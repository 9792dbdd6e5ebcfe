package graft

import org.apache.spark.sql.functions.{col, lit, pmod}

/** Physical-plan shape assertions: at 100 TB the difference between the right
  * and wrong plan is the whole game, so the shapes are pinned by test —
  * broadcast dims (no fact-side shuffle), top-k as TakeOrderedAndProject
  * (per-partition heaps, no global sort), partial+final aggregate split,
  * column-pruned scans with pushed filters, and a sweep proving no query in
  * the inventory ever degenerates into an unbounded cartesian product.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("top-k plans as TakeOrderedAndProject") {
    assert(plan("sort_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("star join broadcasts dimensions — no shuffle of the dim side") {
    val p = plan("join_multiway")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("aggregation splits partial/final (map-side combine before the shuffle)") {
    val p = plan("agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("projection prunes the parquet scan to the selected columns") {
    val p = plan("scan_projection")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_id") && !readSchema.contains("props"),
      s"scan not pruned: $readSchema")
  }

  test("static bounds push down to the parquet scan") {
    val p = plan("extract_incr_bounds")
    assert(p.contains("GreaterThanOrEqual(event_id,200") && p.contains("LessThan(event_id,700"),
      s"bounds not pushed:\n$p")
  }

  test("partitioned sink read-back prunes partitions statically") {
    val p = plan("sink_partitioned_prune")
    assert(p.contains("PartitionFilters") && p.contains("o_orderstatus"),
      s"no partition filter in scan:\n$p")
    // The data filter must ride PartitionFilters, not PushedFilters — it
    // eliminates whole directories before any footer is read.
    val scanLine = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(scanLine.contains("o_orderstatus"), scanLine)
  }

  test("dynamic partition pruning fires when the filter arrives via a joined dim") {
    import spark.implicits._
    val out = graft.sources.FileFormats.partitionedOrders(spark, sf)
    val fact = spark.read.parquet(out)
    // The dim must be a real scan with a Filter node — a LocalRelation dim is
    // constant-folded, leaving no selective predicate for the DPP rule to see.
    val dimPath = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("F", "final"), ("X", "never")).toDF("st", "label")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"label" === "final")
    val q = fact.join(dim, fact("o_orderstatus") === dim("st")).groupBy("label").count()
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"), s"DPP missing:\n$p")
  }

  test("rank-top-N triggers WindowGroupLimit (per-group heap before the full window sort)") {
    // Spark ≥3.5 rewrites Filter(rank<=k, Window(row_number)) into a group
    // limit that keeps k rows per key on the map side — the property that
    // makes window top-N viable on a 100 TB fact. Pin it so a regression
    // (e.g. a filter shape the rule stops recognizing) surfaces here.
    val p = plan("window_rank_topn")
    assert(p.contains("WindowGroupLimit"), s"WindowGroupLimit missing:\n$p")
  }

  test("runtime bloom-filter pruning injects on a selective shuffle join") {
    // When the dim side of a shuffle join is selective, Spark 4 can inject a
    // bloom filter built from the dim keys into the fact scan — rows that
    // can't join are dropped before the shuffle. At 100 TB this is the
    // difference between shuffling the full fact and shuffling the matching
    // slice. Thresholds are sized for real tables; pin the behavior with
    // fixture-scale overrides.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.t(spark, sf, "lineitem")
      val ord = Tables.t(spark, sf, "orders").filter(col("o_orderpriority") === "1-URGENT")
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.toLowerCase.contains("bloomfilter"),
        s"bloom runtime filter missing:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("date/hour WITH FILL plans stay join-free and push the scan filter") {
    // The fill is a union of the real rows with per-gap generated rows —
    // gap generation cannot produce an existing key, so there is no
    // anti-join (or any join) anywhere in the plan…
    val pd = graft.ops.Relational.sqlChWithFillDate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!pd.contains("Join"), s"date fill must be join-free:\n$pd")
    val ph = graft.ops.Relational.sqlChWithFillHour(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!ph.contains("Join"), s"hour fill must be join-free:\n$ph")
    // …and the dialect WHERE reaches the parquet scan as a pushed filter
    // (the fill is a post-step over the already-filtered aggregate).
    assert(ph.contains("PushedFilters: [") && ph.contains("event_type"),
      s"event_type filter must reach the scan:\n$ph")
  }

  test("LIMIT n WITH TIES plans a Partial WindowGroupLimit (TopK shape, not a full global window)") {
    // The rank()-filter rewrite must land on the same per-partition
    // partial-top-n machinery as LIMIT BY — the shape that makes a
    // global WITH TIES affordable at scale (each partition keeps at most
    // its own tie-bounded top-n before the single-partition final).
    val p = graft.ops.Relational.sqlChLimitTies(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"partial window group limit missing:\n$p")
  }

  test("sim_knn_join plans broadcast probes + partial top-k below the exchange") {
    val p = graft.ops.LlmPipeline.simKnnJoin(spark, sf)
      .queryExecution.executedPlan.toString
    // Probe side broadcasts (the corpus never shuffles its vectors)...
    assert(p.contains("BroadcastNestedLoopJoin"), s"probe side must broadcast:\n$p")
    // ...and the rank<=k filter is pushed to a per-partition Partial
    // WindowGroupLimit, so the exchange carries O(partitions·probes·k) rows.
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"partial window group limit missing:\n$p")
  }

  test("sim_knn_join_cells plans a cell-keyed shuffle join + partial top-k (no broadcast of the probe side)") {
    val p = graft.ops.LlmPipeline.simKnnJoinCells(spark, sf)
      .queryExecution.executedPlan.toString
    // The whole point of the cells variant: NO nested-loop broadcast of the
    // probe side — both sides meet on the cell equi-key.
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"cells path must not BNLJ the probes:\n$p")
    // Per-probe top-k still bounds the exchange via a Partial group limit.
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"partial window group limit missing:\n$p")
  }

  test("stored-band pruning: small batch carries PartitionFilters, full-grid batch skips the filter") {
    import spark.implicits._
    import graft.ops.LlmPipeline
    // A stored band table in the partitioned layout (16 bands x 16 bpfx).
    val dir = java.nio.file.Files.createTempDirectory("graft-bandgrid").toString + "/bands"
    val stored = (0L until 200L).flatMap(id => (0 until LlmPipeline.Bands).map(b => (b, id.toInt * 31 + b, id)))
      .toDF("band", "bucket", "doc_id")
    stored.withColumn("bpfx", pmod(col("bucket").cast("long"), lit(16L)))
      .write.partitionBy("band", "bpfx").parquet(dir)
    val table = spark.read.parquet(dir)

    // SMALL batch: a handful of cells → the scan must prune via a static
    // PartitionFilters predicate (deterministic, not a DPP bet).
    val smallCells = Seq(0L, 17L, 35L) // (band 0, bpfx 0), (1, 1), (2, 3)
    val small = LlmPipeline.pruneBandsToCells(table, smallCells)
    val smallScan = small.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters")).mkString
    assert(smallScan.contains("bpfx") && !smallScan.contains("PartitionFilters: []"),
      s"small batch must partition-prune: $smallScan")

    // FULL-GRID batch: every cell of every band touched — the filter would
    // enumerate all 256 cells and prune nothing; the plan must carry NO
    // partition predicate at all (pure scan).
    val fullCells = (for (b <- 0 until LlmPipeline.Bands; p <- 0 until 16)
      yield b.toLong * 16 + p).toSeq
    val full = LlmPipeline.pruneBandsToCells(table, fullCells)
    val fullPlan = full.queryExecution.executedPlan.toString
    val fullScan = fullPlan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(fullScan.isEmpty || fullScan.contains("PartitionFilters: []"),
      s"full-grid batch must skip the no-op filter: $fullScan")
    // Same rows either way: the short-circuit changes the plan, not the data.
    assert(full.count() == table.count())

    // An UNPARTITIONED stored table passes through untouched.
    val flatDir = java.nio.file.Files.createTempDirectory("graft-bandflat").toString
    stored.write.mode("overwrite").parquet(flatDir)
    val flat = spark.read.parquet(flatDir)
    assert(LlmPipeline.pruneBandsToCells(flat, smallCells).count() == flat.count())
  }

  test("stratified sample pushes top-k through the shuffle as WindowGroupLimit") {
    val p = plan("sample_stratified")
    // Partial (pre-shuffle, per-partition heaps) AND Final — each executor
    // forwards at most k rows per stratum; the shuffle carries O(strata × k).
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") && p.contains("Final"), p)
  }

  test("sessionize shares one user_id shuffle across lag, running sum, and rollup") {
    val p = plan("events_sessionize")
    // Both Window operators and the session rollup ride a single hash
    // exchange on user_id; the only other exchange is the output ordering.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert("Window ".r.findAllIn(p).length == 2, p)
  }

  test("funnel filters each step at the scan and joins per-user aggregates broadcast") {
    val p = plan("events_funnel")
    assert(p.contains("EqualTo(event_type,view)"), p)
    assert(p.contains("EqualTo(event_type,click)"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    // Steps join AFTER aggregation to one row per user — broadcast, never a
    // raw-event shuffle join.
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("retention derives cohorts by window-min — no self-join of the pair table") {
    val p = plan("events_retention")
    assert(!p.contains("Join"), s"cohort derivation must not join:\n$p")
    assert("Window ".r.findAllIn(p).length == 2, p) // cohort min + week-0 denominator
  }

  test("outlier moments broadcast back over the fact — no fact-side shuffle join") {
    val p = plan("events_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("split assignment and chunking are shuffle-free maps (only the output ordering exchanges)") {
    for (name <- Seq("sample_split", "text_chunk")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"), s"$name shuffles:\n$p")
    }
    assert(plan("text_chunk").contains("Generate"), "chunker must explode partition-locally")
  }

  test("contamination scan broadcasts the eval shingle set — training side never shuffle-joins") {
    val p = plan("curation_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dup-rate scan is pruned to (text, source) and windows on one key shuffle") {
    val p = plan("curation_dup_rate")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && readSchema.contains("source")
      && !readSchema.contains("doc_id"), s"scan not pruned: $readSchema")
    // One exchange for the per-key window, one for the per-source rollup.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
  }

  test("r11 dialect queries keep their scale shapes: agg2 one grouped aggregate pass, misc pushes the key filter to the scan, arrays2 one group shuffle") {
    // sql_ch_agg2: every camelCase/exact aggregate rides the SAME
    // grouped aggregation — exactly the two hash exchanges Spark's
    // two-phase distinct plan needs (once on (group, distinct-key) for
    // countDistinct/uniqUpTo, once on the group), never a
    // per-aggregate re-shuffle on top.
    val a = plan("sql_ch_agg2")
    val aggEx = "Exchange hashpartitioning\\(l_returnflag".r.findAllIn(a).length
    assert(aggEx == 2, s"expected the 2 distinct-plan exchanges, got $aggEx:\n$a")
    assert(!a.contains("CartesianProduct"), a)
    // sql_ch_misc: the l_orderkey < 300 filter reaches the parquet scan;
    // the lag/lead window shares one orderkey shuffle.
    val m = plan("sql_ch_misc")
    assert(m.contains("LessThan(l_orderkey,300)"), s"filter not pushed:\n$m")
    val winEx = "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(m).length
    assert(winEx == 1, s"expected 1 window exchange, got $winEx:\n$m")
    // sql_ch_arrays2: one group shuffle builds the arrays; all the array
    // calculus is finisher-side projection, no further hash exchange.
    val ar = plan("sql_ch_arrays2")
    val grpEx = "Exchange hashpartitioning".r.findAllIn(ar).length
    assert(grpEx == 1, s"expected 1 hash exchange, got $grpEx:\n$ar")
  }

  test("bloom blocklist: sketch probe stays codegen, residual anti-join broadcasts") {
    val p = plan("join_bloom_anti")
    assert(p.contains("might_contain"), s"bloom probe missing from plan:\n$p")
    // The confirm leg joins only the maybe-slice against the tiny ban list —
    // broadcast, never a sort-merge shuffle of the orders side.
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("stream dedup plans WindowGroupLimit — one row per key crosses the shuffle") {
    val p = plan("stream_dedup")
    assert(p.contains("WindowGroupLimit"), s"rn=1 filter not pushed into window:\n$p")
  }

  test("weighted mix joins the per-stratum quota by broadcast") {
    val p = plan("sample_weighted_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pareto's running sum and class total share one hash exchange") {
    val p = plan("orders_pareto")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("bucketed co-located join: no exchange on either side of the SMJ") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$p")
    // The join itself must consume the bucketed scans directly — the ONLY
    // exchanges allowed in the whole plan are the post-join 5-group rollup
    // and the final ordering; an exchange feeding the SMJ means bucketing
    // was not used and 100 TB pays a full shuffle per join.
    val smjIdx = p.indexOf("SortMergeJoin")
    val belowJoin = p.substring(smjIdx)
    assert(!belowJoin.contains("Exchange"),
      s"exchange below the sort-merge join — bucketed scan not used:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n$p")
  }

  test("levenshtein threshold filter gains the implied length-difference guard") {
    val p = plan("er_blocked_match")
    // The rule injects abs(length(a) - length(b)) <= k AHEAD of the DP —
    // conjunct order is evaluation order in the generated code, so the
    // cheap guard short-circuits the expensive levenshtein.
    val joinLine = p.linesIterator
      .find(l => l.contains("levenshtein") && l.contains("<=")).getOrElse("")
    assert(joinLine.contains("abs((length("),
      s"length guard missing from the levenshtein predicate line:\n$p")
    assert(joinLine.indexOf("abs((length(") < joinLine.indexOf("levenshtein"),
      s"guard must precede the DP in the conjunction:\n$joinLine")
    // The edit-distance verify runs the BANDED threshold DP (r15):
    // `levenshtein(a, b, 8)` prunes to the 2k+1 diagonal band and returns
    // −1 past the threshold, so the ≥ 0 filter IS the ≤ k predicate at
    // O(k·n) per pair — the guard rule's implication (lev ≥ |Δlen|) is
    // enforced upstream as the candidate join's length residual and
    // re-checked in O(1) inside the banded DP itself.
    val p2 = plan("dedup_edit_distance")
    val verifyLine = p2.linesIterator
      .find(l => l.contains("levenshtein")).getOrElse("")
    assert(verifyLine.contains("Some(8)"),
      s"banded threshold missing from the edit-distance verify:\n$verifyLine")
    assert(p2.linesIterator.exists(l =>
      l.contains("abs((ln_a") && l.contains("<= 8")),
      s"length residual missing from the candidate join:\n$p2")
  }

  test("interval join rides the time-grid equi key — no nested-loop join") {
    val p = plan("join_interval_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degenerated to a nested loop:\n$p")
    assert(p.contains("bucket"), s"grid key missing from the join:\n$p")
  }

  test("native interval operator serves its production consumers: the registered query and attribution") {
    // join_interval_native IS the operator; events_attribution's 7-day
    // lookback is its in-library adoption (window [-7d, -1µs]) — both must
    // plan the custom sweep, neither a per-user all-pairs equi join with a
    // time residual (the r8 attribution shape).
    for (q <- Seq("join_interval_native", "events_attribution",
        "events_attribution_direct")) {
      val p = plan(q)
      assert(p.contains("IntervalJoin ["), s"$q lost the native sweep:\n$p")
      assert(!p.contains("SortMergeJoin") || q != "join_interval_native",
        s"$q pairs via a generic join:\n$p")
    }
    // The SQL face must reach the same exec: the marker in plain INNER
    // JOIN SQL converts during analysis, never falls back to a generic
    // join with a post-filter.
    val sqlP = plan("sql_interval_join")
    assert(sqlP.contains("IntervalJoin ["), s"sql_interval_join lost the native sweep:\n$sqlP")
    assert(!sqlP.contains("SortMergeJoin"), s"sql_interval_join pairs via a generic join:\n$sqlP")
    // The LEFT OUTER face also reaches the native sweep — the null
    // extension happens inside the operator, never as a stock outer join
    // with a range residual (which would materialize every same-key pair).
    val leftP = plan("sql_interval_left_join")
    assert(leftP.contains("IntervalJoin ["), s"sql_interval_left_join lost the native sweep:\n$leftP")
    assert(!leftP.contains("SortMergeJoin"), s"sql_interval_left_join pairs via a generic join:\n$leftP")
  }

  test("bucketed pagerank superstep never re-shuffles the edge table") {
    val g = graft.ops.Graph.trade(spark, sf, bucketed = true)
    val ranks = g.table.select(col("src").as("node")).distinct()
      .select(col("node"), lit(graft.ops.Graph.Scale).as("pr")).localCheckpoint()
    val step = graft.ops.Graph.superstep(g, ranks)
    step.count() // materialize through AQE so the final plan is inspectable
    val p = step.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"superstep must take the co-partitioned merge path, not broadcast:\n$p")
    assert(!p.contains("hashpartitioning(src"),
      s"edge table re-shuffled on src — bucketing not used by the join:\n$p")
    assert(p.contains("hashpartitioning(node"),
      s"expected the O(N) rank-vector shuffle to the edge bucketing:\n$p")
  }

  test("bucketed components round never re-shuffles the edge table") {
    val g = graft.ops.Graph.domestic(spark, sf, bucketed = true)
    val labels = g.table.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint()
    // The PRODUCTION round's edge stage (componentsIncoming) — the
    // per-round edge touch of graph_components_bucketed.
    val incoming = graft.ops.Graph.componentsIncoming(g, labels)
    incoming.count() // materialize through AQE so the final plan is inspectable
    val p = incoming.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"propagation must take the co-partitioned merge path, not broadcast:\n$p")
    assert(!p.contains("hashpartitioning(src"),
      s"edge table re-shuffled on src — bucketing not used by the join:\n$p")
    assert(p.contains("hashpartitioning(node"),
      s"expected the O(N) label-vector shuffle to the edge bucketing:\n$p")
  }

  test("bucketed label-prop round never re-shuffles the edge table") {
    val g = graft.ops.Graph.domestic(spark, sf, bucketed = true)
    val labels = g.table.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint()
    val best = graft.ops.Graph.labelPropIncoming(g, labels)
    best.count() // materialize through AQE so the final plan is inspectable
    val p = best.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"plurality stage must take the co-partitioned merge path, not broadcast:\n$p")
    assert(!p.contains("hashpartitioning(src"),
      s"edge table re-shuffled on src — bucketing not used by the join:\n$p")
    assert(p.contains("hashpartitioning(node"),
      s"expected the O(N) label-vector shuffle to the edge bucketing:\n$p")
  }

  test("bucketed BFS relaxation round never re-shuffles the edge table") {
    val g = graft.ops.Graph.domestic(spark, sf, bucketed = true)
    val dist = g.table.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("d")).localCheckpoint()
    val relaxed = graft.ops.Graph.bfsRelax(g, dist)
    relaxed.count() // materialize through AQE so the final plan is inspectable
    val p = relaxed.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"relaxation must take the co-partitioned merge path, not broadcast:\n$p")
    assert(!p.contains("hashpartitioning(src"),
      s"edge table re-shuffled on src — bucketing not used by the join:\n$p")
    assert(p.contains("hashpartitioning(node"),
      s"expected the O(N) distance-vector shuffle to the edge bucketing:\n$p")
  }

  test("bucketed k-core alive-degree round never re-shuffles the edge table") {
    val g = graft.ops.Graph.parts(spark, sf, bucketed = true)
    val alive = g.table.select(col("src").as("node")).distinct().localCheckpoint()
    val deg = graft.ops.Graph.kcoreAliveDeg(g, alive)
    deg.count() // materialize through AQE so the final plan is inspectable
    val p = deg.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"alive-degree must take the co-partitioned merge path, not broadcast:\n$p")
    assert(!p.contains("hashpartitioning(src"),
      s"edge table re-shuffled on src — bucketing not used by the join:\n$p")
    assert(p.contains("hashpartitioning(node"),
      s"expected the O(N) alive-vector shuffle to the edge bucketing:\n$p")
  }

  test("ClickHouse LIMIT BY lands on Spark's rank-limit pushdown with scan-level filters") {
    // The textual rewrite produces a row_number-filter shape Catalyst
    // recognizes: WindowGroupLimit caps each partition's buffered rows at
    // n BEFORE the full window sort, and the WHERE (incl. the merged
    // PREWHERE conjunct in custom_query_clickhouse's sibling) reaches the
    // parquet scan as pushed filters — the rewrite costs nothing over a
    // hand-written top-n-per-group.
    val p = plan("sql_ch_limit_by")
    assert(p.contains("WindowGroupLimit"),
      s"expected the rank-limit pushdown on the rewritten LIMIT BY:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(user_id)"),
      s"expected the WHERE to reach the scan:\n$p")
  }

  test("backlog plans ONE scan per source table (explode, not a union of subtrees)") {
    // The unionAll formulation duplicated the orders⋈lineitem subtree; the
    // generator form must read each fact exactly once.
    val p = plan("orders_open_backlog")
    val scans = p.linesIterator.count(_.contains("ReadSchema"))
    assert(scans == 2, s"expected exactly 2 parquet scans (orders, lineitem), got $scans:\n$p")
  }

  test("dq_profile branches each scan exactly one pruned column") {
    val p = plan("dq_profile")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size == 6, s"expected 6 per-column branch scans, got ${schemas.size}")
    schemas.foreach { s =>
      val cols = "o_[a-z]+".r.findAllIn(s).toSet
      assert(cols.size == 1, s"branch scan reads more than one column: $s")
    }
  }

  test("prefix-filter jaccard: candidate and verify joins all ride equi keys") {
    val p = plan("dedup_jaccard_prefix")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"prefix filter degenerated to a product:\n$p")
    // The self-join key is the prefix shingle; the verify joins key on ids.
    assert(p.contains("term"), s"prefix-token join key missing:\n$p")
  }

  test("asof-nearest rides the (user, grid-cell) equi key and takes top-1 per purchase") {
    val p = plan("join_asof_nearest")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"asof-nearest degenerated to a nested loop:\n$p")
    assert(p.contains("bucket"), s"grid key missing:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-purchase argmin must push top-1 through the shuffle:\n$p")
  }

  test("kcore round joins broadcast the survivor set — the edge table never re-shuffles") {
    // The PRODUCTION peel round (kcorePeel), not a test-side copy.
    val round = graft.ops.Graph.kcorePeel(graft.ops.Graph.partsCoGraph(spark, sf), 2)
    round.count()
    val p = round.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both survivor joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"edge table re-shuffled in a peel round:\n$p")
  }

  test("bot-detect's lag window and gap aggregate share one user_id shuffle") {
    val p = plan("events_bot_detect")
    // The Window's hashpartitioning(user_id) satisfies the groupBy's
    // distribution — one exchange for both, plus only the output ordering.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("label-prop round joins broadcast the label vector — edges never re-shuffle") {
    // The PRODUCTION round stage (labelPropIncoming — the exact code the
    // superstep loop runs), not a test-side reimplementation.
    val g = graft.ops.Graph.domestic(spark, sf, bucketed = false)
    val labels = g.table.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val best = graft.ops.Graph.labelPropIncoming(g, labels)
    best.count()
    val p = best.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"labels must broadcast to the edges:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"edge table re-shuffled in a propagation round:\n$p")
  }

  test("ARRAY JOIN plans one Generate over a text-only pruned scan") {
    val p = plan("sql_ch_array_join")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("struct<text:string>"),
      s"documents scan not pruned to text: $readSchema")
    assert("Generate ".r.findAllIn(p).length == 1,
      s"expected exactly one Generate (the zip rides inline, not a second explode):\n$p")
    assert(p.contains("arrays_zip"), p)
  }

  test("WITH FILL: payload filters reach the scan, gap generation is join-free, the union is exchange-free") {
    val p = plan("sql_ch_with_fill")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), IsNotNull(value), EqualTo(event_type,purchase)"),
      s"payload filter not pushed:\n$p")
    assert(p.contains("explode(sequence("), p)
    // Re-anchored fills derive from each gap's left edge via a lead
    // window over the DISTINCT key set — no join of any kind remains in
    // the fill path (the former grid+anti-join could not re-anchor).
    assert(p.contains("Window"), s"gap lead window missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"fill generation must be join-free:\n$p")
    assert(p.contains("Union"), p)
  }

  test("star-transformer expansion prunes the EXCEPTed columns from the scan") {
    // `* EXCEPT (o_orderdate, o_orderpriority) …` becomes an explicit
    // list at rewrite time, so Catalyst's column pruning must drop the
    // excepted columns from the parquet ReadSchema — at 100 TB the
    // whole point of EXCEPT is not reading what you dropped.
    val p = plan("sql_ch_star")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice"),
      s"expected columns missing: $readSchema")
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_orderpriority"),
      s"EXCEPTed columns not pruned: $readSchema")
  }

  test("no query in the inventory plans an unbounded cartesian product") {
    // join_cross is the deliberate cartesian demo; everything else must ride
    // an equi key (broadcast-nested-loop over a broadcast *small* side — e.g.
    // the 1-row scalar subquery in q22 or langid's 5-row dim — is fine and
    // distinct from CartesianProduct).
    for ((name, fn) <- SparkEntry.queries if name != "join_cross") {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }
}
