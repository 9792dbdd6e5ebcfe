package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Graph, LlmPipeline, Relational, Skew}

/** Measured scale evidence ABOVE the largest fixture (sf0.1, 17 MB): every
  * 100 TB claim in the scaladocs otherwise rests on plan shape + task-metric
  * invariants (`ScaleStressSpec`), not wall-clock. This main inflates the
  * sf0.1 tables 4–32× at RUNTIME (explode over a literal range — the
  * `ScaleStressSpec` derivation, no new fixtures, deterministic) and times
  * the plan pairs whose gap IS the scale story:
  *
  *   1. hot-key join: plain (AQE off) vs plain (AQE skew-join) vs salted —
  *      the three regimes of the skew playbook, measured on a key owning
  *      half the fact table;
  *   2. PageRank superstep: broadcast-rank vs co-partitioned rank-shuffle
  *      at 1× and 8× graph scale — the crossover the Graph scaladocs
  *      document; (2b) the components round's edge stage on the same
  *      inflated edges, broadcast-label vs co-partitioned — the crossover
  *      `graph_components_bucketed` exists for (the per-round edge stage
  *      of `graph_label_prop_bucketed` and `graph_bfs_bucketed` is the
  *      same src-keyed `Edges.meet` join, so these rows govern all three);
  *      (2c) the k-core recurrence-SHAPE adjudication — the full 6-round
  *      rewrite trajectory vs the static-edge alive-vector trajectory of
  *      `graph_kcore_bucketed` on the same inflated co-occurrence graph;
  *   3. interval-grid join linearity: t(×16)/t(×4) for the time-grid
  *      bucketed no-equi-key join (quadratic plans diverge here);
  *   4. MinHash band+pair linearity: the capped bucketedPairs kernel under
  *      ×4 / ×16 exact-dup piles;
  *   5. co-occurrence jaccard linearity: the typed-flatMap packed-pair
  *      kernel under ×1 / ×4 disjoint customer copies (degrees constant, so
  *      work grows ×scale while the distinct pair space stays fixed);
  *   6. prefix-filter jaccard linearity: the PPJoin self-join at ×1/×4/×8
  *      disjoint-vocabulary corpus copies through the real query path (the
  *      ×8 point separates fixed-overhead amortization from a genuine
  *      quadratic term — see the leg's comment);
  *   7. as-of join: the native sorted-merge operator vs the composed
  *      candidate+window form under ×4 / ×16 per-user density inflation
  *      (composed candidates grow ×scale², the merge stays linear), plus
  *      (7b) the keyed INTERVAL join on the same inflated stream — native
  *      sweep vs the (user, grid-cell) composition, equality-asserted,
  *      with the ×scale² true pair counts recorded alongside; (7c) the
  *      same interval join as Spark's OWN plan for `key = key AND t
  *      BETWEEN lo AND hi` — a sort-merge join with the range as a
  *      post-join residual, which must stream every same-key pair — the
  *      interpreted-eval-cost adjudication: the native sweep's per-row
  *      interpreted `eval` is only a win if it beats the codegen'd SMJ
  *      probe at equal output, so both run equality-asserted at ×4/×16
  *      density.
  *
  * Emits one JSON line on stdout and the same document at
  * `SPARK_GRAFT_SCALEBENCH_OUT` (default `SCALEBENCH.json`). Runs each
  * measurement twice and reports the min (same contention damping as
  * `graft.Bench`); do not run concurrently with other Spark jobs.
  */
object ScaleBench {

  private def timeMin(runs: Int)(body: => Unit): Double =
    (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Min of N reps plus the rep spread (max − min) — for legs whose
    * verdict is a close call between two plans, where a 2-rep min can
    * flip on ambient noise alone (the r10 interval-native vs
    * SMJ-residual adjudication moved ±10% between runs). The spread is
    * recorded next to the min so the artifact carries its own error bar.
    */
  private def timeMinSpread(runs: Int)(body: => Unit): (Double, Double) = {
    val ts = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    (ts.min, ts.max - ts.min)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALEBENCH_OUT", "SCALEBENCH.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.memory", "16g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Runtime inflation EXPLODES a single-file fixture scan, so without an
    // explicit repartition every inflated table inherits ONE input split and
    // the whole measurement serializes onto one task (observed: the minhash
    // HOF stage pinned a single core). A real corpus at these sizes arrives
    // in many splits; repartitioning to the core count is the honest stand-in.
    val nPart = cpus.toInt

    // ---------------------------------------------------------------- 1. skew
    // events ×32 (100k → 3.2M rows), HALF remapped to user 0 — a key one
    // reducer would own. Join against the real per-user dim (distinct users).
    val scaleSkew = 32L
    val hot = Tables.t(spark, sfDir, "events")
      .withColumn("rep", explode(sequence(lit(0L), lit(scaleSkew - 1))))
      .select(col("event_id") * scaleSkew + col("rep") as "event_id",
        when(pmod(col("event_id") + col("rep"), lit(2)) === 0, 0L)
          .otherwise(col("user_id")).as("user_id"),
        col("value"))
      .repartition(nPart)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dim = Tables.t(spark, sfDir, "events").select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(7)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    hot.count(); dim.count()
    def joinCount(df: DataFrame): Unit = assert(df.groupBy().count().head().getLong(0) > 0)
    results("skew_join_plain_aqe_off") = timeMin(2) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try joinCount(hot.join(dim, "user_id"))
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    results("skew_join_plain_aqe_skew") = timeMin(2) {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try joinCount(hot.join(dim, "user_id"))
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    results("skew_join_salted") = timeMin(2) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try joinCount(
        Skew.saltedJoin(hot, hot("user_id"), hot("event_id"), dim, dim("user_id"), salts = 32))
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

    // ------------------------------------------------------------ 2. pagerank
    // Inflated trade graph: replicate the (cust, supp) edge base with
    // DISJOINT key spaces per rep — nodes AND edges grow ×8, the genuine
    // billion-node direction (not multiplicity inflation).
    def edges(scale: Long): DataFrame = {
      val base = Tables.t(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.t(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select((col("cust") + col("rep") * 2000000L).as("cust"),
          (col("supp") + col("rep") * 2000000L + 1000000L).as("supp"))
      val und = base.select(col("cust").as("src"), col("supp").as("dst"))
        .unionAll(base.select(col("supp").as("src"), col("cust").as("dst")))
      val deg = und.groupBy("src").agg(count(lit(1)).as("outdeg"))
      und.join(deg, "src")
    }
    for (scale <- Seq(1L, 8L)) {
      val e = edges(scale).persist(StorageLevel.MEMORY_AND_DISK)
      val nEdges = e.count()
      val ranks = e.select(col("src").as("node")).distinct()
        .select(col("node"), lit(Graph.Scale).as("pr")).localCheckpoint()
      val broadcastEdges = Graph.Edges.of(e)
      results(s"pagerank_superstep_broadcast_x$scale") = timeMin(2) {
        assert(Graph.superstep(broadcastEdges, ranks).groupBy().count().head().getLong(0) > 0)
      }
      // co-partitioned regime: edges pre-partitioned on src ONCE (the
      // bucketed-table stand-in: an in-memory partitioned cache keeps its
      // outputPartitioning, so only the rank vector shuffles per superstep)
      val ecp = e.repartition(cpus.toInt, col("src")).persist(StorageLevel.MEMORY_AND_DISK)
      ecp.count()
      val copartitioned = Graph.Edges.of(ecp).copy(bucketed = true)
      results(s"pagerank_superstep_copartitioned_x$scale") = timeMin(2) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try assert(Graph.superstep(copartitioned, ranks).groupBy().count().head().getLong(0) > 0)
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      results(s"pagerank_edges_x$scale") = nEdges.toDouble
      // 2b. Components min-propagation round on the same edges: the label
      // vector is node-cardinality like ranks, so the same broadcast ↔
      // co-partitioned crossover governs graph_components vs
      // graph_components_bucketed — measured here on the identical
      // persisted edge tables so the pagerank and components rows are
      // directly comparable. The timed stage is the production round's
      // edge stage (`componentsIncoming`: the labels-meet-edges join),
      // whose per-node min rides the round's one union aggregate.
      val labels0 = e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")).localCheckpoint()
      results(s"components_round_broadcast_x$scale") = timeMin(2) {
        assert(Graph.componentsIncoming(broadcastEdges, labels0)
          .groupBy().count().head().getLong(0) > 0)
      }
      results(s"components_round_copartitioned_x$scale") = timeMin(2) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try assert(Graph.componentsIncoming(copartitioned, labels0)
          .groupBy().count().head().getLong(0) > 0)
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      e.unpersist(); ecp.unpersist()
    }

    // 2c. k-core recurrence-shape adjudication: graphKcoreBucketed is not
    // just a join-strategy flip — the rewrite recurrence (shrinking edge
    // set, broadcast survivors) cannot keep a fixed bucketing because it
    // REWRITES the edges each round, so the bucketed variant switches to
    // the static-edge alive-vector recurrence (full edge scan per round,
    // zero edge movement). Both full 6-round trajectories run on the SAME
    // persisted src-partitioned inflated part co-occurrence graph (disjoint
    // part-key spaces per rep — nodes and edges grow ×scale), equality of
    // the trajectories being already oracle-pinned at fixture scale. The
    // honest trade-off this measures: the rewrite's late rounds scan a
    // tiny surviving set, the static form rescans all E buckets per round
    // but never re-shuffles or re-materializes them.
    val pe = Graph.partsCoGraph(spark, sfDir)
    for (scale <- Seq(1L, 8L)) {
      val pex = pe.withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select((col("src") + col("rep") * 10000000L).as("src"),
          (col("dst") + col("rep") * 10000000L).as("dst"))
        .repartition(nPart, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      results(s"kcore_edges_x$scale") = pex.count().toDouble
      def trajSum(df: DataFrame): Unit =
        assert(df.agg(sum(col("n_parts"))).head().getLong(0) > 0)
      results(s"kcore_rewrite_x$scale") = timeMin(2) {
        trajSum(Graph.kcoreTrajectoryRewrite(pex, 2))
      }
      results(s"kcore_static_x$scale") = timeMin(2) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try trajSum(Graph.kcoreTrajectoryStatic(Graph.Edges.of(pex).copy(bucketed = true), 2))
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      pex.unpersist()
    }

    // ------------------------------------------------------- 3. interval grid
    // No-equi-key ±15 min purchase↔click join through the time grid: the
    // plan that must scale LINEARLY in rows (a naive theta join is O(N²)).
    // Each rep is shifted by MORE than the fixture's full time span, so reps
    // are disjoint time-translated copies: true pairs grow exactly ×scale and
    // t(×16)/t(×4) ≈ 4 is the linearity claim. (Spreading reps by only a few
    // minutes would pack `scale` copies inside one ±15 min window and grow
    // pairs ×scale² — an output-size effect masquerading as a plan defect.)
    val span = Tables.t(spark, sfDir, "events")
      .agg((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))
        + 2L * 900000000L).as("s")).head().getLong(0)
    for (scale <- Seq(4L, 16L)) {
      val ev = Tables.t(spark, sfDir, "events")
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select(col("event_id") * scale + col("rep") as "event_id",
          col("event_type"),
          (unix_micros(col("ts")) + col("rep") * span).as("tus"))
        .repartition(nPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      ev.count()
      val purch = ev.filter(col("event_type") === "purchase").select(col("event_id"), col("tus"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("oid"), col("tus").as("ous"))
      var pairs = 0L
      results(s"interval_grid_x$scale") = timeMin(2) {
        pairs = Relational.intervalPairs(purch, clicks, 900000000L)
          .groupBy().count().head().getLong(0)
        assert(pairs > 0)
      }
      results(s"interval_grid_pairs_x$scale") = pairs.toDouble
      ev.unpersist()
    }

    // ------------------------------------------------------------- 4. minhash
    // Exact-dup piles ×4 / ×16: sigs → bands → capped pair kernel. Piles of
    // size `scale` collide in every band; the kernel must stay all-pairs
    // C(scale,2) per pile, never cross-pile quadratic.
    for (scale <- Seq(4L, 16L)) {
      val docs = Tables.t(spark, sfDir, "documents")
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select(col("doc_id") * scale + col("rep") as "doc_id", col("text"))
        .repartition(nPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      docs.count()
      var cand = 0L
      results(s"minhash_pairs_x$scale") = timeMin(2) {
        val sigs = docs.select(col("doc_id"),
          LlmPipeline.minhashSignatureHof(col("text")).as("sig"))
        cand = LlmPipeline.bucketedPairs(LlmPipeline.bandedSig(sigs))
          .groupBy().count().head().getLong(0)
        assert(cand > 0)
      }
      // candidate count alongside wall-clock: piles of size `scale` emit
      // C(scale,2) intra-pile pairs, so candidates grow ~×(scale-1) faster
      // than rows while runtime stays signature-bound — the capped kernel's
      // whole point, visible only with both numbers in the artifact.
      results(s"minhash_cands_x$scale") = cand.toDouble
      docs.unpersist()
    }

    // ---------------------------------------------- 5. co-occurrence jaccard
    // Neighbor-set similarity at ×1 / ×4 DISJOINT customer copies (key
    // spaces offset, so degrees — and Σ C(deg,2) per customer — stay
    // constant while customers grow ×scale): the typed-flatMap packed-pair
    // kernel of graph_neighbor_jaccard must scale LINEARLY in customers.
    // Multiplicity inflation (same customers, repeated rows) would instead
    // test the distinct(), and degree inflation would grow work ×scale² by
    // construction — neither is the claim.
    for (scale <- Seq(1L, 4L)) {
      val baseCs = Tables.t(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.t(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select((col("cust") + col("rep") * 1000000L).as("cust"), col("supp"))
        .repartition(nPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      baseCs.count()
      var pairRows = 0L
      results(s"jaccard_pairs_x$scale") = timeMin(2) {
        val perCust = baseCs.groupBy("cust").agg(sort_array(collect_set(col("supp"))).as("ss"))
        pairRows = perCust.select("ss").as[Array[Long]]
          .flatMap { ss =>
            val out = new scala.collection.mutable.ArrayBuffer[Long](
              ss.length * (ss.length - 1) / 2)
            var i = 0
            while (i < ss.length) {
              var j = i + 1
              while (j < ss.length) { out += (ss(i) << 32) | ss(j); j += 1 }
              i += 1
            }
            out
          }
          .groupBy(col("value")).agg(count(lit(1)))
          .groupBy().count().head().getLong(0)
        assert(pairRows > 0)
      }
      results(s"jaccard_distinct_pairs_x$scale") = pairRows.toDouble
      baseCs.unpersist()
    }

    // ------------------------------------------- 6. prefix-filter jaccard
    // The exact PPJoin self-join at ×1 / ×4 / ×8 DISJOINT corpus copies:
    // every word carries a per-rep suffix, so rep r's shingle vocabulary is
    // disjoint from rep r' — document count grows ×scale while each rep's
    // internal similarity structure is unchanged. Candidates and true pairs
    // must then grow LINEARLY (×scale), never cross-rep quadratic — the
    // prefix filter's frequency ordering is computed over the inflated
    // corpus itself, so this also shows the df ordering adapts to the
    // bigger vocabulary. Measured through the REAL query path (temp dir +
    // dedupJaccardPrefix), not a re-implementation. The ×1→×4 wall-clock
    // ratio RUNS AHEAD of the pair ratio (r8 measured 5.5× for exactly ×4
    // pairs) because the ×1 point is fixed-overhead-dominated (job
    // scheduling + the df aggregate's floor cost on a 17 MB corpus); the
    // ×8 point exists to adjudicate that reading — t(×8)/t(×4) near 2 is
    // the linear asymptote, near 4 would be a real quadratic term.
    for (scale <- Seq(1L, 4L, 8L)) {
      val tmp = graft.sources.FileFormats.exitCleanedTempDir(s"graft-ppj-x$scale")
      Tables.t(spark, sfDir, "documents")
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select((col("doc_id") * scale + col("rep")).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("rep"))), " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(nPart)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      var pairRows = 0L
      results(s"ppjoin_x$scale") = timeMin(2) {
        pairRows = LlmPipeline.dedupJaccardPrefix(spark, tmp)
          .groupBy().count().head().getLong(0)
        assert(pairRows > 0)
      }
      results(s"ppjoin_true_pairs_x$scale") = pairRows.toDouble
      Tables.invalidate(spark, tmp)
    }

    // --------------------------------------------------------------- 7. as-of
    // Native sorted-merge as-of ([[graft.plans.AsOfJoinExec]]) vs the
    // composed candidate-join + row_number form under per-user DENSITY
    // inflation: reps shift by only `rep` µs, so each user's purchase AND
    // click counts grow ×scale inside the same time span. The composed
    // form's candidate set (every click at-or-before each purchase of the
    // same user) then grows ×scale², while the native merge's work after
    // the sort is linear in rows — the measurement that justifies the
    // whole-operator extension. `asof_rows` counts the native (left-outer)
    // output = |P|; the composed variant counts matched purchases only —
    // both wall-clocks cover one full count() action of the same join
    // semantics.
    for (scale <- Seq(4L, 16L)) {
      val ev = Tables.t(spark, sfDir, "events")
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select(col("event_id") * scale + col("rep") as "event_id",
          col("user_id"), col("event_type"),
          (unix_micros(col("ts")) + col("rep")).as("tus"))
        .repartition(nPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      ev.count()
      val pSide = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("tus").as("pus"))
      val cSide = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cu"), col("tus").as("cus"))
      var nOut = 0L
      results(s"asof_native_x$scale") = timeMin(2) {
        nOut = org.apache.spark.sql.graft.AsOf.asofJoin(pSide, cSide,
            Seq("user_id"), Seq("cu"), "pus", "cus", Seq("cid"))
          .groupBy().count().head().getLong(0)
        assert(nOut > 0)
      }
      results(s"asof_rows_x$scale") = nOut.toDouble
      results(s"asof_composed_x$scale") = timeMin(2) {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("pid")
          .orderBy(col("cus").desc, col("cid").desc)
        val m = pSide
          .join(cSide, col("user_id") === col("cu") && col("cus") <= col("pus"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        assert(m.groupBy().count().head().getLong(0) > 0)
      }
      // 7b. KEYED INTERVAL join on the same inflated stream: the native
      // sweep ([[graft.plans.IntervalJoinExec]]) vs the composed
      // (user, grid-cell) + residual form. Per-user density grows ×scale
      // on BOTH sides, so true pairs grow ×scale² for both variants
      // (recorded in `interval_native_pairs`) — the separation is
      // CONSTANT-factor here (no cell fan-out, no distinct pass), while
      // the equi-join-then-filter form without the grid would be the
      // quadratic cliff neither variant takes.
      val H = 900000000L
      var nPairs = 0L
      // 5 reps + recorded spread for the native-vs-SMJ adjudication pair:
      // the r10 artifact had the two within ~9% of each other with 2-rep
      // mins, inside single-run noise — the close call needs an error bar.
      val (nativeT, nativeSpread) = timeMinSpread(5) {
        nPairs = org.apache.spark.sql.graft.Interval.intervalJoin(pSide, cSide,
            Seq("user_id"), Seq("cu"), "pus", "cus", -H, H)
          .groupBy().count().head().getLong(0)
        assert(nPairs > 0)
      }
      results(s"interval_native_x$scale") = nativeT
      results(s"interval_native_x${scale}_spread") = nativeSpread
      results(s"interval_native_pairs_x$scale") = nPairs.toDouble
      results(s"interval_composed_x$scale") = timeMin(2) {
        val B = 2L * H
        val pg = pSide.withColumn("bucket",
          explode(sequence(expr(s"(pus - $H) div $B"), expr(s"(pus + $H) div $B"))))
        val cg = cSide.withColumn("bucket", expr(s"cus div $B"))
        val n = pg.join(cg, pg("bucket") === cg("bucket") && col("user_id") === col("cu"))
          .filter(abs(col("pus") - col("cus")) <= H)
          .select("pid", "cid").distinct()
          .groupBy().count().head().getLong(0)
        assert(n == nPairs, s"composed grid disagrees with native: $n vs $nPairs")
      }
      // 7c. Spark's own plan for the same semantics: equi join on the key
      // with the time window as a POST-JOIN residual — a codegen'd
      // sort-merge join that must stream EVERY same-user (purchase, click)
      // pair through the residual. This is the interpreted-eval
      // adjudication leg: IntervalJoinExec's merge does per-row
      // interpreted eval, the SMJ probe is full Tungsten codegen, and the
      // sweep only deserves its extension if it still wins at equal
      // output. Broadcast disabled so the plan under test IS the at-scale
      // plan; output equality-asserted against the native count.
      val (smjT, smjSpread) = timeMinSpread(5) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val n = pSide.join(cSide, col("user_id") === col("cu") &&
              col("cus") >= col("pus") - H && col("cus") <= col("pus") + H)
            .groupBy().count().head().getLong(0)
          assert(n == nPairs, s"SMJ+residual disagrees with native: $n vs $nPairs")
        } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      results(s"interval_smj_residual_x$scale") = smjT
      results(s"interval_smj_residual_x${scale}_spread") = smjSpread
      ev.unpersist()
    }

    // ------------------------------------------------------------- 8. novelty
    // First-seer novelty kernel at ×1/×8 DISJOINT-vocabulary corpus copies
    // (terms tagged per rep, doc ids offset — ScaleStressSpec pins per-copy
    // exactness at ×4; this records the wall-clock): the term-keyed min +
    // join back has no pair term, so true work grows exactly ×scale and
    // runtime should track ~linearly. `novelty_docs` records the scored-doc
    // count next to the time.
    val shBase = LlmPipeline.shingleTerms64(
        Tables.t(spark, sfDir, "documents").select(col("doc_id"), col("text")))
      .withColumnRenamed("term64", "term")
    for (scale <- Seq(1L, 8L)) {
      val sh = shBase
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
          // Re-hash (term, rep) — a fresh 64-bit space per rep, no overflow
          // under ANSI arithmetic, collisions negligible for a timing leg.
          xxhash64(col("term"), col("rep")).as("term"))
        .repartition(nPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      sh.count()
      var nDocs = 0L
      results(s"novelty_x$scale") = timeMin(2) {
        nDocs = LlmPipeline.noveltyOf(sh).groupBy().count().head().getLong(0)
        assert(nDocs > 0)
      }
      results(s"novelty_docs_x$scale") = nDocs.toDouble
      sh.unpersist()
    }

    // ---------------------------------------------------- 8. lake layouts
    // File-skipping RATIO vs file count: the same relation and the same
    // middle-20% 2-D box at 8 and 64 files per layout. The 100 TB claim
    // under test: the fraction of files a min/max footer reader opens is a
    // property of the CURVE, not the file count — so the absolute number
    // of files skipped grows with the lake while hilbert < zorder < linear
    // holds at every granularity.
    {
      import org.apache.spark.sql.Column
      val ev = Tables.t(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("value_c"))
        .repartition(nPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val b = ev.agg(min("user_id"), max("user_id"), min("value_c"), max("value_c")).head()
      val (loU, hiU) = (b.getLong(0), b.getLong(1))
      val (loV, hiV) = (b.getLong(2), b.getLong(3))
      def to16(c: Column, lo: Long, hi: Long): Column =
        if (hi <= lo) lit(0L)
        else floor((c - lit(lo)).cast("double") * 65535.0 / (hi - lo).toDouble).cast("long")
      def mid(lo: Long, hi: Long, f: Double): Long = lo + ((hi - lo) * f).toLong
      val (qloU, qhiU) = (mid(loU, hiU, 0.4), mid(loU, hiU, 0.6))
      val (qloV, qhiV) = (mid(loV, hiV, 0.4), mid(loV, hiV, 0.6))
      val u16 = to16(col("user_id"), loU, hiU)
      val v16 = to16(col("value_c"), loV, hiV)
      val keys = Seq(
        "linear" -> col("event_id"),
        "zorder" -> graft.sources.FileFormats.zValue16(u16, v16),
        "hilbert" -> graft.functions.HilbertIndex.hilbert(spark, u16, v16, 16))
      for (nf <- Seq(8, 64); (name, key) <- keys) {
        val path = java.nio.file.Files.createTempDirectory(s"graft-sb-$name").toString
        ev.withColumn("__k", key)
          .repartitionByRange(nf, col("__k"))
          .sortWithinPartitions("__k")
          .drop("__k")
          .write.mode("overwrite").parquet(path)
        val scanned = graft.sources.FileFormats.perFileBounds(spark, path)
          .filter(!(col("hi_u") < qloU || col("lo_u") > qhiU ||
            col("hi_v") < qloV || col("lo_v") > qhiV))
          .count()
        results(s"layout_${name}_scanned_f$nf") = scanned.toDouble
      }
      ev.unpersist()
    }

    // ---------------------------------------------------- 9. window funnel
    // The behavioral-aggregate kernel behind sql_ch_funnel
    // (graft_window_funnel). Disjoint user copies make EXACTNESS at scale
    // checkable — the level histogram at ×N must be exactly N × the ×1
    // histogram — and the naive 3-way-join spelling of level-3 existence
    // (the SQL a user would write: ∃ view ≤ click ≤ purchase with
    // purchase − view ≤ w) adjudicates both correctness (equal user
    // counts — the greedy fold IS chain existence) and cost (the join
    // evaluates every in-user candidate pair; the fold sorts each user
    // once). Per-user density stays constant as users scale, so the fold
    // should track ×N linearly while the join carries the pair term.
    {
      val w = 21600L
      def evAt(scale: Long) = Tables.t(spark, sfDir, "events")
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select((col("user_id") * lit(scale) + col("rep")).as("u"),
          (unix_micros(col("ts")) / lit(1000000L)).cast("long").as("ts_s"),
          col("event_type"))
      var base: Map[Int, Long] = Map.empty
      for (scale <- Seq(1L, 4L, 16L)) {
        val ev = evAt(scale).repartition(nPart).persist(StorageLevel.MEMORY_AND_DISK)
        ev.count()
        ev.createOrReplaceTempView("sb_fun")
        var hist: Map[Int, Long] = Map.empty
        results(s"funnel_fold_x$scale") = timeMin(2) {
          hist = graft.plans.ClickHouseSql.sql(spark,
            """SELECT windowFunnel(21600)(ts_s,
              |  event_type = 'view', event_type = 'click', event_type = 'purchase') AS lvl
              |FROM sb_fun GROUP BY u""".stripMargin)
            .groupBy("lvl").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        }
        if (scale == 1L) base = hist
        else assert(hist == base.map { case (k, n) => k -> n * scale },
          s"funnel histogram must scale exactly: x$scale $hist vs base $base")
        val v = ev.filter(col("event_type") === "view")
          .select(col("u"), col("ts_s").as("vt"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("u").as("cu"), col("ts_s").as("ct"))
        val pch = ev.filter(col("event_type") === "purchase")
          .select(col("u").as("pu"), col("ts_s").as("pt"))
        var naive3 = 0L
        results(s"funnel_naive_join_x$scale") = timeMin(2) {
          naive3 = v
            .join(c, v("u") === c("cu") && c("ct") >= v("vt") && c("ct") <= v("vt") + w)
            .join(pch, v("u") === pch("pu") && pch("pt") >= c("ct") && pch("pt") <= v("vt") + w)
            .select(v("u")).distinct().count()
        }
        val fold3 = hist.getOrElse(3, 0L)
        assert(naive3 == fold3,
          s"naive 3-chain users $naive3 != fold level-3 $fold3 at x$scale")
        ev.unpersist()
      }
    }

    // -------------------------- 10. hot-user density: strict funnel / seq
    // The r11 strict-funnel and timed-sequence kernels buffer one group's
    // MATCHING events once and fold in a single pass — the groupArray
    // cost class, shared with ClickHouse's own
    // AggregateFunctionWindowFunnel. Their latent scale hazard is a HOT
    // user whose matching-event count explodes, so this leg inflates
    // per-user DENSITY (not user count): every event replicated ×scale
    // into disjoint ~100-day time blocks for the SAME user. Each user's
    // buffered array grows ×scale while the correct answer stays the ×1
    // answer exactly (the 6 h window never spans blocks, and
    // strict_increase chains cannot either), so the leg pins BOTH
    // exactness under density and the measured density curve (expect
    // ~n·log n from the per-group sort; a quadratic term would diverge
    // by ×64).
    {
      val blockS = 100L * 86400L
      def evDense(scale: Long) = Tables.t(spark, sfDir, "events")
        .withColumn("rep", explode(sequence(lit(0L), lit(scale - 1))))
        .select(col("user_id").as("u"),
          ((unix_micros(col("ts")) / lit(1000000L)).cast("long")
            + col("rep") * lit(blockS)).as("ts_s"),
          col("event_type"))
      var baseStrict: Map[Int, Long] = Map.empty
      var baseSeq = -1L
      for (scale <- Seq(1L, 16L, 64L)) {
        val ev = evDense(scale).repartition(nPart)
          .persist(StorageLevel.MEMORY_AND_DISK)
        ev.count()
        ev.createOrReplaceTempView("sb_dense")
        var hist: Map[Int, Long] = Map.empty
        results(s"funnel_strict_dense_x$scale") = timeMin(2) {
          hist = graft.plans.ClickHouseSql.sql(spark,
            """SELECT windowFunnel(21600, 'strict_increase')(ts_s,
              |  event_type = 'view', event_type = 'click', event_type = 'purchase') AS lvl
              |FROM sb_dense GROUP BY u""".stripMargin)
            .groupBy("lvl").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        }
        if (scale == 1L) baseStrict = hist
        else assert(hist == baseStrict,
          s"strict-funnel histogram must be density-invariant: x$scale $hist vs base $baseStrict")
        var nMatch = -1L
        results(s"seq_match_dense_x$scale") = timeMin(2) {
          nMatch = graft.plans.ClickHouseSql.sql(spark,
            """SELECT u FROM sb_dense GROUP BY u
              |HAVING sequenceMatch('(?1).*(?t<=21600)(?2)')(ts_s,
              |  event_type = 'view', event_type = 'purchase')""".stripMargin)
            .count()
        }
        if (scale == 1L) baseSeq = nMatch
        else assert(nMatch == baseSeq,
          s"timed sequenceMatch user count must be density-invariant: x$scale $nMatch vs base $baseSeq")
        ev.unpersist()
      }
    }

    // ---------------------------- 11. ngram kernel vs document LENGTH
    // The r13 ngramDistance/ngramSearch kernel is one regex scan per row
    // with O(len · distinct-grams) array work inside the fold — its
    // latent scale hazard is LONG documents, not many documents (every
    // other leg inflates row counts). This leg inflates text length
    // ×8/×32 per row (rep-tagged segments, same row count, needle size
    // fixed) and records the wall clock: near-linear growth
    // (t(×32)/t(×8) ≈ 4) is the claim; the kernel's per-gram re-scan
    // failure mode would read ≈16 and a long-document corpus would
    // cliff silently without this row in the artifact.
    for (scale <- Seq(8L, 32L)) {
      val docs = Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"),
          array_join(transform(sequence(lit(1L), lit(scale)),
            i => concat(col("text"), lit(" "), i)), " ").as("text"))
        .repartition(nPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      docs.count()
      docs.createOrReplaceTempView("sb_ngram")
      results(s"ngram_len_x$scale") = timeMin(2) {
        assert(graft.plans.ClickHouseSql.sql(spark,
          """SELECT sum(toInt64(floor(
            |    ngramDistance(text, substringUTF8(text, 5, 200)) * 10000))) AS s
            |FROM sb_ngram""".stripMargin).head().getLong(0) >= 0)
      }
      docs.unpersist()
    }

    hot.unpersist(); dim.unpersist()

    val json = results.map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }
      .mkString(s"""{"metric":"scalebench","sf":"$sfDir","cpus":$cpus,""", ",", "}")
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
