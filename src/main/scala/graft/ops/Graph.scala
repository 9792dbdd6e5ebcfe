package graft.ops

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — the Pregel-shaped workload
  * (PageRank here; connected components live in
  * [[graft.ops.LlmPipeline.dedupClusters]] as min-label propagation with
  * pointer doubling).
  *
  * Determinism is the interesting part: textbook PageRank sums doubles, and
  * a distributed sum of doubles is order-dependent — un-oracle-able and not
  * even reproducible across two Spark runs. Ranks here are FIXED-POINT
  * longs (scale 1e9): every step is integer multiply / integer divide /
  * integer sum, all associative-commutative-exact, so the result is
  * bit-identical under any partitioning, any engine. Truncating `div` ≡
  * DuckDB `//` on the all-positive operands. Per-node error vs the real
  * division is < 1e-9 per step — far below any ranking-relevant gap.
  */
object Graph {

  /** Fixed-point scale: rank 1.0 ≡ 1e9. Total mass ≈ N·1e9 ≈ 1.6e13 at
    * sf0.1; the hottest intermediate (85 · in-sum) stays < 2e15, five
    * decimal orders below Long overflow even at 100× the node count.
    */
  val Scale = 1000000000L

  /** PageRank over the undirected customer↔supplier trade graph (an edge
    * per distinct trading pair via lineitem→orders; supplier node ids are
    * offset by 1e6 to share one key space). 8 synchronous iterations of
    * r' = 0.15·Scale + 0.85 · Σ r/deg, the non-normalized uniform-base
    * formulation; undirected edges mean no dangling mass. Top-30 by rank.
    *
    * Scale shape: the edge table (with degree attached) is built once and
    * localCheckpoint'ed — 8 iterations reuse the materialized table
    * instead of recomputing the join lineage, and the checkpoint every 4th
    * round caps plan depth exactly as the cluster-label loop does. Each
    * iteration is one join (ranks, ~N rows, hashed on node = the join
    * key) + one groupBy(dst) — the irreducible per-superstep shuffle of
    * Pregel itself; edges never move after the initial partition. At
    * 100 TB: pre-partition the edge table by src ONCE (bucketed table),
    * and each superstep shuffles only the O(N) rank vector, never the
    * O(E) edges — the GraphX/Pregel cost model on plain DataFrames.
    */
  // The degree-annotated edge table is the graph LOAD, not the query —
  // memoized per (session, dir) like the IVF index and cluster-label
  // tables ([[graft.Tables.memo]]), so repeated analytics over the same
  // graph pay the extract+distinct once. localCheckpoint'ed: the memo must
  // not hold a live lineage over the source scans.
  private[graft] def tradeGraph(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "trade-graph") {
      val base = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      val edges = base.select(col("cust").as("src"), (col("supp") + 1000000L).as("dst"))
        .unionAll(base.select((col("supp") + 1000000L).as("src"), col("cust").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      edges.join(deg, "src").localCheckpoint()
    }

  /** One synchronous superstep: contributions r/deg flow along edges
    * (map-side, partial-aggregated), then r' = 0.15·Scale + 0.85·Σ. The
    * CALLER decides how the rank vector meets the edges — `broadcast(ranks)`
    * for the N ≪ broadcast-limit regime, a MERGE-hinted co-partitioned join
    * for the billion-node regime — the superstep algebra is identical, which
    * is what makes the two variants bit-identical.
    */
  private[graft] def superstep(e: DataFrame, ranks: DataFrame): DataFrame =
    e.join(ranks, e("src") === ranks("node"))
      .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
      .groupBy("node")
      .agg((lit(150000000L) + expr("(85 * sum(c)) div 100")).as("pr"))

  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val e = tradeGraph(spark, dir)
    // The rank vector is O(N) ≪ O(E) and broadcasts each superstep, so the
    // edge table NEVER re-shuffles (measured 6×: a shuffle join here re-sorts
    // all E rows every iteration because the checkpoint erases partitioning
    // info). Contributions are map-side; the only per-superstep shuffle is
    // the partial-aggregated rank vector. Checkpointing ranks EVERY round is
    // deliberate: it is tiny, and an un-checkpointed round re-executes every
    // round since the last checkpoint through the broadcast child. For
    // billion-node graphs where the rank vector outgrows broadcast,
    // [[graphPagerankBucketed]] is the flip: co-partitioned bucketed edges +
    // a shuffle of ranks on src — the GraphX/Pregel cost model.
    // The seed vector is a lazy projection over the memoized [[tradeNodes]]
    // set (r16): it is consumed exactly once, by the first fused action's
    // broadcast build, and the distinct itself is shared with the bucketed
    // variant instead of rebuilt per query.
    var ranks = tradeNodes(spark, dir).select(col("node"), lit(Scale).as("pr"))
    // Two supersteps per checkpoint ACTION (r16): the rank vector is
    // referenced exactly ONCE per round (unlike the min-propagation loops,
    // whose doubling self-join references the state 3×), so fusing rounds
    // into one action recomputes NOTHING — same 8 rounds of algebra, half
    // the driver round-trips and checkpoint jobs. The inner round's
    // aggregate materializes as the outer broadcast's build, exactly where
    // the separate checkpoint job used to run.
    for (_ <- 1 to 4) {
      ranks = superstep(e, broadcast(superstep(e, broadcast(ranks)))).localCheckpoint()
    }
    ranks.orderBy(col("pr").desc, col("node")).limit(30)
  }

  // The bucketed edge table is written ONCE per (session, dir): 8 buckets
  // hashed on src (repartition(8, src) first so each write task holds
  // exactly one bucket → one file per bucket, the layout bucketed reads
  // like). External table in an exit-cleaned temp dir + per-JVM tag, same
  // decay discipline as FileFormats.bucketedTables.
  /** The shared bucketed-edge write recipe: persist an edge table ONCE,
    * bucketed AND sorted by `src` into 8 buckets at an exit-cleaned
    * external path, named uniquely per (dir, JVM) so concurrent suites
    * never collide. Every `*Bucketed` graph variant reads the table this
    * produces; the layout discipline lives HERE, once.
    */
  private def writeBucketedEdges(edges: DataFrame, prefix: String,
      dir: String): String = {
    val tag = java.lang.Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Long.toHexString(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val name = s"graft_${prefix}_$tag"
    edges
      .repartition(8, col("src"))
      .write.mode("overwrite").format("parquet")
      .option("path", graft.sources.FileFormats.exitCleanedTempDir(s"graft-$prefix-bkt"))
      .bucketBy(8, "src").sortBy("src")
      .saveAsTable(name)
    name
  }

  private[graft] def bucketedTradeGraph(spark: SparkSession, dir: String): String =
    graft.Tables.memo(spark, dir, "trade-graph-bkt") {
      writeBucketedEdges(tradeGraph(spark, dir), "edges", dir)
    }

  /** PageRank for the regime where the rank vector has outgrown broadcast
    * (billion-node graphs): the O(E) edge table is persisted ONCE bucketed
    * by `src`, so every superstep's sort-merge join reads edge bucket i
    * directly — NO exchange ever re-shuffles the edges (plan-pinned in
    * `PlanShapeSpec`: zero `hashpartitioning(src …)` anywhere). The only
    * per-superstep movement is the O(N) rank vector, shuffled to the edge
    * table's fixed bucketing, plus the partial-aggregated rank output — the
    * GraphX/Pregel cost model on plain DataFrames. The MERGE hint keeps the
    * fixture-sized rank vector off the broadcast path so the plan under
    * test IS the at-scale plan. Bit-identical to [[graphPagerank]] (same
    * integer superstep algebra, pinned in `OpsSpec`), so the flip between
    * regimes is a pure cost decision, never a semantic one.
    */
  def graphPagerankBucketed(spark: SparkSession, dir: String): DataFrame = {
    val eb = spark.table(bucketedTradeGraph(spark, dir)).hint("MERGE")
    // Lazy seed vector over the shared [[tradeNodes]] memo — the bucketed
    // table is a bucketed rewrite of the same rows, so the node sets are
    // identical (the [[graphPagerank]] rationale).
    var ranks = tradeNodes(spark, dir).select(col("node"), lit(Scale).as("pr"))
    // Two supersteps per checkpoint action — the [[graphPagerank]] fusion
    // (ranks referenced once per round ⇒ zero recompute); each fused action
    // chains two rank shuffles onto the fixed edge bucketing.
    for (_ <- 1 to 4) {
      ranks = superstep(eb, superstep(eb, ranks)).localCheckpoint()
    }
    ranks.orderBy(col("pr").desc, col("node")).limit(30)
  }

  /** Degree distribution of the trade graph in exact log2 buckets: per side
    * (customer / supplier), how many nodes have degree in [2^k, 2^{k+1}).
    * The bucket is `length(conv(d, 10, 2))` — the BIT LENGTH of the degree,
    * an integer-exact log2 (float `log2` misrounds at powers of two; string
    * length cannot). Reads the memoized [[tradeGraph]]: (src, outdeg) pairs
    * dedupe to one row per node before the tiny histogram aggregate.
    *
    * Scale: the distinct is the only data-sized shuffle; the histogram is
    * O(sides × 64) rows forever. This is the first query a graph pipeline
    * runs — skew in THIS histogram is what decides whether the pagerank
    * broadcast plan or a hub-split plan applies.
    */
  def graphDegreeStats(spark: SparkSession, dir: String): DataFrame =
    tradeGraph(spark, dir)
      .select(col("src").as("node"), col("outdeg").as("d"))
      .distinct()
      .select(
        when(col("node") >= 1000000L, "supplier").otherwise("customer").as("side"),
        expr("length(conv(d, 10, 2))").cast("long").as("degree_bits"),
        col("d"))
      .groupBy("side", "degree_bits")
      .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_degree"),
        max(col("d")).as("max_degree"))
      .orderBy("side", "degree_bits")

  /** Triangle enumeration over the part co-purchase graph (edge = two parts
    * in ≥ 2 common orders) with DEGREE-ORDERED orientation: every edge
    * points from its lower-degree endpoint (ties by id), wedges are built
    * only from each node's OUT-neighbors, and a wedge closes by probing the
    * canonical undirected edge set. Orientation is the whole scale story —
    * out-degree under it is O(√E) even for hub nodes, so wedge counts stay
    * Σ C(outdeg,2) ≈ E^1.5 instead of a hub's C(degree,2) blowup; the
    * found triangle SET is orientation-invariant, which is why the naive
    * a<b oracle agrees.
    *
    * Scale: three equi-joins (wedge build self-join on src, closing-edge
    * probe on the canonical pair) — all hash-partitioned, no cartesian;
    * the support filter (≥ 2 co-orders) prunes the edge set before any
    * wedge is formed.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // Edge build: ONE shuffle on orderkey collects each order's part set;
    // pair expansion is then map-side over the sorted array (orders hold a
    // handful of parts, so per-row fanout is tiny and bounded) — vs the
    // self-join formulation, which shuffles the (order, part) table twice
    // and joins. Same edges, one exchange fewer; measured ~2× faster.
    // The build itself is the memoized [[partsCoGraph]] graph LOAD (shared
    // with [[graphKcore]]); the undirected x<y edge list is its src<dst
    // half.
    val edges = partsCoGraph(spark, dir)
      .filter(col("src") < col("dst"))
      .select(col("src").as("x"), col("dst").as("y"))
    val deg = edges.select(col("x").as("n")).unionAll(edges.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.toDF("x", "dx"), "x")
      .join(deg.toDF("y", "dy"), "y")
    val dirE = withDeg.select(
      when(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")),
        struct(col("x").as("s"), col("y").as("t")))
        .otherwise(struct(col("y").as("s"), col("x").as("t"))).as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"))
    val wedges = dirE.toDF("src", "v").join(dirE.toDF("src", "w"), "src")
      .filter(col("v") < col("w"))
    wedges.join(edges, wedges("v") === edges("x") && wedges("w") === edges("y"))
      .select(array_sort(array(col("src"), col("v"), col("w"))).as("t"))
      .select(element_at(col("t"), 1).as("a"), element_at(col("t"), 2).as("b"),
        element_at(col("t"), 3).as("c"))
      .orderBy("a", "b", "c")
  }

  /** The DuckDB oracle for [[graphPagerank]]: the same 8 supersteps
    * unrolled as chained CTEs (recursive CTEs can't aggregate in the
    * recursive leg, so unrolling is the honest SQL rendering). `//` floors
    * where `div` truncates — identical on these all-positive operands;
    * DuckDB's HUGEINT sum is narrowed back per step by the CAST.
    */
  def pagerankOracleSql: String = {
    val iters = (1 to 8).map { i =>
      s"r$i AS (SELECT dst AS node, CAST(150000000 + (85 * sum(pr // outdeg)) // 100 AS BIGINT) AS pr " +
        s"FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node GROUP BY dst)"
    }.mkString(", ")
    "WITH base AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
      "edges AS MATERIALIZED (SELECT cust AS src, supp + 1000000 AS dst FROM base UNION ALL SELECT supp + 1000000, cust FROM base), " +
      "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src), " +
      "e AS MATERIALIZED (SELECT edges.src, dst, outdeg FROM edges JOIN deg ON edges.src = deg.src), " +
      "r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg), " +
      iters +
      " SELECT node, pr FROM r8 ORDER BY pr DESC, node LIMIT 30"
  }

  /** Fixed rounds of min-label propagation WITH pointer doubling (r15 —
    * the [[graft.ops.LlmPipeline.dedupClusters]] recurrence, now unrolled
    * as SQL too): each round every node takes the min over its closed
    * neighborhood AND over label(label(node)), so the distance to the
    * component minimum halves-and-steps per round — O(log diameter)
    * rounds instead of O(diameter). A fixed synchronous schedule remains
    * the point: after K identical rounds both engines hold the same
    * labels whether or not the propagation has converged, so the oracle
    * is exact, not heuristic — the doubling term is just one more
    * renderable self-join in the unrolled CTE. 4 doubled rounds cover
    * label eccentricity ≤ 2⁴ − 1; the fixture graphs' eccentricity from
    * each component's min node is ≤ 6 at every SF (r14 note), so the
    * r14 8-plain-round schedule and this one both converge and agree
    * (the spec still pins round K+1 as a fixed point) — at HALF the
    * supersteps, which at 100 TB is half the global barriers. */
  val ComponentRounds = 4

  /** Undirected edge set of the domestic trade graph: distinct
    * customer↔supplier pairs trading within one nation, supplier ids
    * offset into the shared node space (both directions materialized, the
    * same convention as [[tradeGraph]]). Memoized per (session, dir) and
    * localCheckpoint'ed like [[tradeGraph]] — it is the graph LOAD shared
    * by FIVE queries (components, label-prop, modularity, BFS, and the
    * bucketed-edge write), each of which re-ran the 4-table join +
    * distinct and re-checkpointed its own copy before r15 (measured
    * ~0.45 s per rebuild at sf0.1 — the dim joins broadcast, but the
    * distinct is a full fact-pair exchange).
    */
  private[graft] def domesticEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "domestic-edges") {
      val base = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      base.select(col("cust").as("src"), (col("supp") + 1000000L).as("dst"))
        .unionAll(base.select((col("supp") + 1000000L).as("src"), col("cust").as("dst")))
        .localCheckpoint()
    }

  /** The graph's node set (distinct src — total by the both-directions
    * convention), memoized per (session, dir) like the edge table itself:
    * every domestic-graph loop (components ×2, label-prop ×2, BFS ×2,
    * modularity's two chains) previously opened with its OWN
    * distinct + checkpoint of the same O(N) set — one aggregate exchange
    * plus a materializing action per query, paid 8× per session (guide
    * §2.4: identical work keyed identically shares one exchange). The
    * BUCKETED variants share it soundly: their edge tables are bucketed
    * rewrites of the same rows.
    */
  private[graft] def domesticNodes(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "domestic-nodes") {
      domesticEdges(spark, dir).select(col("src").as("node")).distinct().localCheckpoint()
    }

  /** [[domesticNodes]] for the trade graph — the PageRank variants' seed
    * set (same memo discipline).
    */
  private[graft] def tradeNodes(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "trade-nodes") {
      tradeGraph(spark, dir).select(col("src").as("node")).distinct().localCheckpoint()
    }

  /** Connected components of the DOMESTIC trade graph — an edge per
    * distinct customer↔supplier pair that trades within one nation
    * (c_nationkey = s_nationkey) — by [[ComponentRounds]] rounds of
    * synchronous min-label propagation, rolled up per component (size,
    * side counts, id range). The nation restriction is what makes the
    * query a real components problem at every sf: the full trade graph is
    * one giant ball, while domestic trade fragments into nation-islands
    * (10 @ sf0.001 → 25 @ sf0.01/0.1, measured). Label eccentricity from
    * each component's min node is ≤ 6 at sf0.1, so 8 rounds converge with
    * slack (the spec pins a 9th round as a fixed point); on a truly
    * high-diameter graph flip to the pointer-doubling O(log d) loop of
    * [[graft.ops.LlmPipeline.dedupClusters]] and give up the SQL oracle.
    *
    * Scale: the edge build is three dim joins (nation keys BROADCAST from
    * the tiny dims) + one distinct; per round ONE join (labels meet edges
    * on src under broadcast ranks ≪ edges, exactly the [[graphPagerank]]
    * regime) + one min-aggregate on dst + a left join back to labels;
    * labels are O(N) and localCheckpoint'ed every round to cap lineage.
    * The final rollup is a component-keyed map-side-combined aggregate.
    * Past broadcastable N, [[graphComponentsBucketed]] is the implemented
    * flip: src-bucketed edges, labels shuffled to them, bit-identical.
    */
  /** The label table after `rounds` synchronous min-propagation rounds —
    * split out so the spec can pin convergence (rounds+1 is a fixed point). */
  private[graft] def componentLabels(spark: SparkSession, dir: String,
      rounds: Int): DataFrame =
    componentLabelsOf(domesticEdges(spark, dir), rounds,
      nodes = Some(domesticNodes(spark, dir)))

  /** [[componentLabels]] over an ALREADY-materialized edge table — so a
    * caller holding a checkpointed copy ([[graphModularity]] scores two
    * partitions of the same edges) never rebuilds the 4-table edge join.
    * The CALLER decides how the label vector meets the edges, exactly the
    * [[superstep]] contract: `broadcastLabels = true` for the
    * N ≪ broadcast-limit regime, `false` when the edge side arrives
    * pre-bucketed on `src` and the labels should shuffle to it
    * ([[graphComponentsBucketed]]). The min-propagation algebra is
    * identical either way, which is what makes the two variants
    * bit-identical.
    */
  private[graft] def componentLabelsOf(e: DataFrame, rounds: Int,
      broadcastLabels: Boolean = true,
      nodes: Option[DataFrame] = None): DataFrame = {
    // With a memoized node set ([[domesticNodes]]) the init is a LAZY
    // projection over the shared checkpoint — round 1's two references
    // re-project in place, no dedicated init action. Without one (tests,
    // ad-hoc edge tables) the distinct builds and checkpoints here as
    // before.
    var labels = nodes.map(_.select(col("node"), col("node").as("lbl")))
      .getOrElse(e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")).localCheckpoint())
    for (round <- 1 to rounds) {
      val lbls = if (broadcastLabels) broadcast(labels) else labels
      // One aggregate per round, no fold-back join (r15): the new label is
      // min over the closed neighborhood, so the self-label rides the SAME
      // min as the incoming contributions via a union — algebraically
      // identical to the former per-dst min + left-join +
      // least(lbl, coalesce(in_lbl, lbl)) fold-back, but one exchange and
      // zero broadcast builds per round instead of an aggregate exchange
      // PLUS a broadcast of the incoming table PLUS a join stage. Every
      // node appears in `labels`, so the union preserves the node set.
      val incoming = e.join(lbls, e("src") === labels("node"))
        .select(col("dst").as("node"), col("lbl"))
      // Pointer doubling (r15): label(label(node)) joins the label table
      // to itself — total, since every label value is itself a node (the
      // initial labels are identity and each round takes mins over
      // existing label values). Skipped in round 1, where labels ARE the
      // identity map and the self-join would be a no-op costing a full
      // O(N) join — the same skip [[graft.ops.LlmPipeline.componentLabels]]
      // documents.
      val contrib =
        if (round == 1) incoming
        else incoming.unionAll(
          labels.select(col("node"), col("lbl").as("mid"))
            .join(labels.select(col("node").as("mid"), col("lbl").as("dlbl")), "mid")
            .select(col("node"), col("dlbl").as("lbl")))
      labels = contrib.unionAll(labels)
        .groupBy("node").agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
    }
    labels
  }

  def graphComponents(spark: SparkSession, dir: String): DataFrame =
    componentsRollup(componentLabels(spark, dir, ComponentRounds))

  /** The shared per-label-group rollup (component / community — the caller
    * names the key column).
    */
  private def componentsRollup(labels: DataFrame, keyName: String = "component"): DataFrame =
    labels
      .groupBy(col("lbl").as(keyName))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("node") < 1000000L, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") >= 1000000L, 1L).otherwise(0L)).as("n_suppliers"),
        min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy(keyName)

  /** The domestic edge table persisted ONCE bucketed by `src` — the
    * components sibling of [[bucketedTradeGraph]] (same 8-bucket layout,
    * same exit-cleaned external-table discipline), for the regime where
    * the label vector has outgrown broadcast.
    */
  private[graft] def bucketedDomesticEdges(spark: SparkSession, dir: String): String =
    graft.Tables.memo(spark, dir, "domestic-bkt") {
      writeBucketedEdges(domesticEdges(spark, dir), "dedges", dir)
    }

  /** Connected components for the beyond-broadcast regime (billion-node
    * graphs): the O(E) domestic edge table is persisted ONCE bucketed by
    * `src` ([[bucketedDomesticEdges]]), so every min-propagation round's
    * sort-merge join reads edge bucket i directly — NO exchange ever
    * re-shuffles the edges (plan-pinned in `PlanShapeSpec`: zero
    * `hashpartitioning(src …)`). The only per-round movement is the O(N)
    * label vector, shuffled to the edge table's fixed bucketing, plus the
    * partial-aggregated incoming-min — the same GraphX/Pregel cost model
    * flip [[graphPagerankBucketed]] made for ranks. The MERGE hint keeps
    * the fixture-sized label vector off the broadcast path so the plan
    * under test IS the at-scale plan. Bit-identical to
    * [[graphComponents]] (same min-propagation algebra via
    * [[componentLabelsOf]], same unrolled-CTE oracle), so the flip between
    * regimes is a pure cost decision, never a semantic one — the measured
    * broadcast↔bucketed crossover rides in `SCALEBENCH.json`.
    */
  def graphComponentsBucketed(spark: SparkSession, dir: String): DataFrame = {
    val eb = spark.table(bucketedDomesticEdges(spark, dir)).hint("MERGE")
    componentsRollup(componentLabelsOf(eb, ComponentRounds, broadcastLabels = false,
      nodes = Some(domesticNodes(spark, dir))))
  }

  /** DuckDB oracle for [[graphComponents]]: the same K min-propagation
    * rounds unrolled as chained CTEs (same reasoning as
    * [[pagerankOracleSql]] — the recursive leg of WITH RECURSIVE cannot
    * aggregate).
    */
  /** The unrolled l1..lN pointer-doubled min-propagation rounds — shared
    * by [[componentsOracleSql]] and [[modularityOracleSql]]. Mirrors
    * [[componentLabelsOf]] term for term: each round is one min over the
    * union of the previous labels (closed neighborhood's self part), the
    * edge-propagated labels, and — from round 2 on — the label-of-label
    * self-join (skipped in round 1 where labels are the identity map).
    */
  private def componentRoundsCte: String =
    (1 to ComponentRounds).map { i =>
      val doubled =
        if (i == 1) ""
        else s" UNION ALL SELECT l.node, p2.lbl FROM l${i - 1} l " +
          s"JOIN l${i - 1} p2 ON l.lbl = p2.node"
      s"l$i AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (" +
        s"SELECT node, lbl FROM l${i - 1} " +
        s"UNION ALL SELECT e.dst AS node, p.lbl FROM edges e " +
        s"JOIN l${i - 1} p ON e.src = p.node" + doubled +
        s") u GROUP BY node)"
    }.mkString(", ")

  def componentsOracleSql: String = {
    "WITH base AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
      "JOIN supplier ON l_suppkey = s_suppkey WHERE c_nationkey = s_nationkey), " +
      "edges AS MATERIALIZED (SELECT cust AS src, supp + 1000000 AS dst FROM base UNION ALL SELECT supp + 1000000, cust FROM base), " +
      "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges), " +
      componentRoundsCte +
      s" SELECT lbl AS component, count(*) AS n_nodes, " +
      "CAST(sum(CASE WHEN node < 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers, " +
      "CAST(sum(CASE WHEN node >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers, " +
      s"min(node) AS min_node, max(node) AS max_node FROM l$ComponentRounds " +
      "GROUP BY lbl ORDER BY component"
  }

  /** Rounds of the synchronous label-propagation community pass — small and
    * FIXED for the same reason as [[ComponentRounds]]: a fixed schedule is
    * renderable as unrolled SQL, so the oracle is exact whether or not the
    * propagation has stabilized (bipartite graphs famously never stabilize
    * under synchronous LPA — they oscillate between side-colorings — which
    * is precisely why only a fixed-round contract is oracle-able at all).
    */
  val LabelPropRounds = 4

  /** The label table after `rounds` of synchronous label propagation
    * (Raghavan et al. 2007): each node adopts its neighbors' PLURALITY
    * label — ties broken by smallest label, isolated inputs keep their own
    * — starting from self-labels. Split out so the spec can pin the
    * mode-beats-min round on a constructed fixture (the step where LPA
    * genuinely differs from [[componentLabels]]'s min-propagation).
    *
    * Scale: per round ONE src-keyed join (broadcast labels, the
    * [[graphPagerank]] O(N)-parameter regime), a (dst, lbl) count, a dst
    * argmax via min(struct) — never a window over the edge set — and a
    * left join back; localCheckpoint caps lineage exactly as components.
    */
  private[graft] def labelPropLabels(spark: SparkSession, dir: String,
      rounds: Int): DataFrame =
    labelPropLabelsOf(domesticEdges(spark, dir), rounds,
      nodes = Some(domesticNodes(spark, dir)))

  /** [[labelPropLabels]] over an already-materialized edge table — the
    * [[componentLabelsOf]] rationale, including its caller-chooses
    * `broadcastLabels` contract. */
  private[graft] def labelPropLabelsOf(e: DataFrame, rounds: Int,
      broadcastLabels: Boolean = true,
      nodes: Option[DataFrame] = None): DataFrame = {
    // Lazy init over the memoized node set — the [[componentLabelsOf]]
    // rationale.
    var labels = nodes.map(_.select(col("node"), col("node").as("lbl")))
      .getOrElse(e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")).localCheckpoint())
    for (_ <- 1 to rounds) {
      // One aggregate per round, no fold-back join (r15, the
      // [[componentLabelsOf]] union-min shape adapted to plurality):
      // `coalesce(new_lbl, lbl)` is a priority-min — the incoming winner
      // beats the self-label wherever one exists — so pack
      // priority·2³² | label into one int64 (labels are node ids < 2²¹ —
      // customers < 10⁶, suppliers offset to < 2·10⁶ — so bit 32 is free
      // at any fixture scale) and take the plain long min: self-labels
      // carry the bit, the per-node winner (unique by construction) does
      // not. A struct-min would force a SortAggregate; the packed long
      // keeps the round in codegen'd HashAggregate with map-side combine.
      // Every label passes through the self-label side, so the bound is
      // CHECKED there, in the packing projection — no extra job.
      val best = labelPropIncoming(e, labels, broadcastLabels)
        .select(col("inode").as("node"), col("new_lbl").as("pk"))
      val selfPk = when(col("lbl") >= 0 && col("lbl") < (1L << 32), col("lbl") + lit(1L << 32))
        .otherwise(raise_error(concat(
          lit("label-prop packs labels into 32 bits, saw "), col("lbl").cast("string"))))
      labels = best
        .unionAll(labels.select(col("node"), selfPk.as("pk")))
        .groupBy("node").agg(min(col("pk")).as("pk"))
        .select(col("node"), col("pk").bitwiseAND(lit((1L << 32) - 1)).as("lbl"))
        .localCheckpoint()
    }
    labels
  }

  /** The edge-touching stage of one plurality round — split out (and used
    * verbatim by the plan-shape spec) so the pinned broadcast-labels /
    * no-edge-reshuffle plan IS the production stage, not a test-side copy.
    * `broadcastLabels = false` is the bucketed-edge regime: the labels
    * shuffle to the edges' fixed src-bucketing instead
    * ([[graphLabelPropBucketed]]).
    */
  private[graft] def labelPropIncoming(e: DataFrame, labels: DataFrame,
      broadcastLabels: Boolean = true): DataFrame = {
    val lbls = if (broadcastLabels) broadcast(labels) else labels
    e.join(lbls, e("src") === labels("node"))
      .groupBy(col("dst").as("inode"), col("lbl").as("nlbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy("inode")
      .agg(min(struct((-col("c")).as("negc"), col("nlbl").as("l"))).as("m"))
      .select(col("inode"), col("m.l").as("new_lbl"))
  }

  /** Community detection on the domestic trade graph by [[LabelPropRounds]]
    * synchronous label-propagation rounds, rolled up per community — the
    * near-linear community pass that splits structure [[graphComponents]]
    * cannot: min-propagation can only answer reachability, while plurality
    * adoption lets densely-knit neighborhoods keep their own label against
    * a smaller id leaking in from a thin bridge. Deterministic by
    * construction (plurality, ties to the smallest label, fixed rounds).
    */
  def graphLabelProp(spark: SparkSession, dir: String): DataFrame =
    componentsRollup(labelPropLabels(spark, dir, LabelPropRounds), "community")

  /** Label propagation for the beyond-broadcast regime — the third
    * bucketed-graph adoption after [[graphPagerankBucketed]] and
    * [[graphComponentsBucketed]], on the same once-written
    * [[bucketedDomesticEdges]] table: each plurality round's edge join is
    * a MERGE-hinted sort-merge join reading edge bucket i directly (zero
    * edge re-shuffle — the `labelPropIncoming` stage plan-pins exactly
    * like the components round), only the O(N) label vector moves. Same
    * plurality algebra via the `broadcastLabels` flag, so the flip is a
    * pure cost decision — bit-identical to [[graphLabelProp]] on the same
    * unrolled-CTE oracle.
    */
  def graphLabelPropBucketed(spark: SparkSession, dir: String): DataFrame = {
    val eb = spark.table(bucketedDomesticEdges(spark, dir)).hint("MERGE")
    componentsRollup(
      labelPropLabelsOf(eb, LabelPropRounds, broadcastLabels = false,
        nodes = Some(domesticNodes(spark, dir))), "community")
  }

  /** DuckDB oracle for [[graphLabelProp]] — the plurality argmax per round
    * rendered as a windowed rank over the (dst, label) counts, unrolled
    * [[LabelPropRounds]] times (the [[componentsOracleSql]] convention).
    */
  def labelPropOracleSql: String =
    labelPropCte +
      s" SELECT lbl AS community, count(*) AS n_nodes, " +
      "CAST(sum(CASE WHEN node < 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers, " +
      "CAST(sum(CASE WHEN node >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers, " +
      s"min(node) AS min_node, max(node) AS max_node FROM p$LabelPropRounds " +
      "GROUP BY lbl ORDER BY community"

  /** Shared unrolled-CTE prefix (base → edges → p0..pN plurality rounds)
    * for every label-prop-derived oracle — [[labelPropOracleSql]] and
    * [[modularityOracleSql]] read the same fixed-round labels.
    */
  private def labelPropCte: String = {
    val rounds = (1 to LabelPropRounds).map { i =>
      s"p$i AS MATERIALIZED (SELECT l.node, coalesce(m.new_lbl, l.lbl) AS lbl " +
        s"FROM p${i - 1} l LEFT JOIN (SELECT node, nlbl AS new_lbl FROM " +
        s"(SELECT e.dst AS node, p.lbl AS nlbl, row_number() OVER " +
        s"(PARTITION BY e.dst ORDER BY count(*) DESC, p.lbl) AS rn " +
        s"FROM edges e JOIN p${i - 1} p ON e.src = p.node GROUP BY e.dst, p.lbl) q " +
        s"WHERE rn = 1) m ON l.node = m.node)"
    }.mkString(", ")
    "WITH base AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
      "JOIN supplier ON l_suppkey = s_suppkey WHERE c_nationkey = s_nationkey), " +
      "edges AS MATERIALIZED (SELECT cust AS src, supp + 1000000 AS dst FROM base UNION ALL SELECT supp + 1000000, cust FROM base), " +
      "p0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges), " +
      rounds
  }

  /** Newman modularity of BOTH graph partitions — [[graphComponents]] and
    * [[graphLabelProp]] — decomposed per community in EXACT integer
    * arithmetic: for community c with e_c internal directed edges and
    * degree mass D_c, the contribution to Q = Σ_c (e_c·2m − D_c²) / (2m)²
    * is emitted as the BIGINT numerator `contrib_num` alongside the shared
    * `two_m` (the denominator is (2m)²) — no float ever forms, so both
    * engines agree bit-for-bit and the caller divides once at the end.
    *
    * Scoring both partitions in one relation is the point: it ADJUDICATES
    * the two detectors. Components capture every edge internally (e_c sums
    * to 2m, Q = 1 − Σ(D_c/2m)² > 0), while the fixed-round synchronous
    * label-prop cut on this BIPARTITE trade graph lands on a side-coloring
    * (the oscillation [[LabelPropRounds]]' scaladoc documents), so every
    * one of its communities is single-sided, e_c = 0, and Q < 0 — the
    * metric exposes quantitatively what the oscillation note claims.
    *
    * Scale: degrees and labels are node-cardinality tables — both sides of
    * every join here broadcast (the [[labelPropIncoming]] discipline), so
    * the edge table is streamed twice per partition (once per endpoint
    * label tag) and never re-shuffles; the rollup shuffles
    * community-cardinality rows. Magnitudes: e_c·2m and D_c² are ≤ (2m)² ≈
    * 10¹² at sf0.1 and ≈ 10¹⁸ at 100× — inside int64 either way.
    */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val e = domesticEdges(spark, dir)
    val totals = e.agg(count(lit(1)).as("two_m"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    def score(method: String, labels: DataFrame): DataFrame = {
      val dc = labels.join(broadcast(deg), Seq("node"))
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
      val ec = e
        .join(broadcast(labels.select(col("node").as("src"), col("lbl").as("slbl"))), Seq("src"))
        .join(broadcast(labels.select(col("node").as("dst"), col("lbl").as("dlbl"))), Seq("dst"))
        .filter(col("slbl") === col("dlbl"))
        .groupBy(col("slbl").as("lbl"))
        .agg(count(lit(1)).as("e_c"))
      dc.join(ec, Seq("lbl"), "left")
        .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
        .crossJoin(broadcast(totals))
        .select(lit(method).as("method"), col("lbl").as("community"),
          col("n_nodes"), col("e_c"), col("d_c"), col("two_m"),
          (col("e_c") * col("two_m") - col("d_c") * col("d_c")).as("contrib_num"))
    }
    // The two label chains are INDEPENDENT serial job chains (8 + 4 eager
    // checkpoint rounds over the same frozen edge table) — build them from
    // two driver threads (guide §2.6: jobs are only sequential because the
    // driver submits them sequentially), so one chain's per-round job
    // latency hides behind the other's tasks. Same plans, same results;
    // measured r16: 53 jobs unchanged, warm wall 3.4 → 2.4 s at 32 cores.
    // The shared node memo is resolved BEFORE the two threads start so the
    // memo build never races inside the chains.
    val nodes = Some(domesticNodes(spark, dir))
    val chains = graft.Tables.inParallel(spark)(
      () => componentLabelsOf(e, ComponentRounds, nodes = nodes),
      () => labelPropLabelsOf(e, LabelPropRounds, nodes = nodes))
    score("components", chains(0))
      .unionAll(score("label_prop", chains(1)))
      .orderBy("method", "community")
  }

  /** DuckDB oracle for [[graphModularity]] — both unrolled label chains
    * (the [[componentsOracleSql]] min-propagation and the [[labelPropCte]]
    * plurality rounds) over ONE shared base/edges, joined to edge-derived
    * degrees and internal-edge counts, all BIGINT.
    */
  def modularityOracleSql: String = {
    def legs(tag: String, rel: String) =
      s"dc_$tag AS (SELECT p.lbl, CAST(count(*) AS BIGINT) AS n_nodes, CAST(sum(d.deg) AS BIGINT) AS d_c FROM $rel p JOIN deg d ON p.node = d.node GROUP BY p.lbl), " +
        s"ec_$tag AS (SELECT ps.lbl, CAST(count(*) AS BIGINT) AS e_c FROM edges e JOIN $rel ps ON e.src = ps.node JOIN $rel pd ON e.dst = pd.node WHERE ps.lbl = pd.lbl GROUP BY ps.lbl)"
    def sel(method: String, tag: String) =
      s"SELECT '$method' AS method, dc_$tag.lbl AS community, n_nodes, coalesce(e_c, 0) AS e_c, d_c, two_m, " +
        s"coalesce(e_c, 0) * two_m - d_c * d_c AS contrib_num " +
        s"FROM dc_$tag LEFT JOIN ec_$tag ON dc_$tag.lbl = ec_$tag.lbl CROSS JOIN tm"
    labelPropCte +
      ", l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges), " +
      componentRoundsCte +
      ", deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src)" +
      ", tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM edges), " +
      legs("c", s"l$ComponentRounds") + ", " + legs("p", s"p$LabelPropRounds") + " " +
      sel("components", "c") + " UNION ALL " + sel("label_prop", "p") +
      " ORDER BY method, community"
  }

  /** Rounds of the [[graphBfs]] Bellman-Ford unroll: hop eccentricity from
    * the nation-0 seed set is ≤ 4 at every fixture sf (the domestic graph's
    * nation-islands are shallow), so 6 fixed rounds converge with slack —
    * and, as with [[ComponentRounds]], a FIXED synchronous schedule is what
    * makes the oracle renderable as unrolled SQL. */
  val BfsRounds = 6

  /** Distance sentinel: far larger than any reachable hop count, small
    * enough that sentinel+1 arithmetic stays nowhere near overflow. */
  private val Unreached = 1000000L

  /** Single-source BFS over the domestic trade graph — hop distance from
    * the graph's lowest-keyed customer node by [[BfsRounds]] rounds of
    * synchronous Bellman-Ford relaxation (dist_i(v) = min(dist_{i-1}(v),
    * 1 + min over in-neighbors)), rolled up per distance ring: node count,
    * customer/supplier split, id range. A single seed is what makes the
    * query non-vacuous — rings climb the island's full eccentricity (odd
    * rings = suppliers, even = customers: the graph is bipartite, pinned
    * in the spec) instead of the whole seed-island sitting at hop ≤ 1.
    * Unreached nodes (other nations' islands) stay at the sentinel and
    * are excluded — the output is the reachable ball, ring by ring.
    * The seed arrives as a 1-row broadcast subquery, not a collected
    * driver value.
    *
    * Scale: identical regime to [[componentLabels]] — the O(E) edge table
    * builds once (nation dims BROADCAST) and never re-shuffles; per round
    * ONE broadcast-labels join + a dst min-aggregate + a left join back,
    * all O(N) state, localCheckpoint'ed to cap lineage. Past broadcastable
    * N, [[graphBfsBucketed]] is the implemented flip: src-bucketed edges,
    * the distance vector shuffled to them, bit-identical.
    */
  private[graft] def bfsDistances(spark: SparkSession, dir: String,
      rounds: Int): DataFrame =
    bfsDistancesOf(domesticEdges(spark, dir), rounds,
      nodes = Some(domesticNodes(spark, dir)))

  /** [[bfsDistances]] over an already-materialized edge table — the
    * [[componentLabelsOf]] rationale, including its caller-chooses
    * `broadcastLabels` contract (`false` = the src-bucketed edge regime
    * of [[graphBfsBucketed]], where the O(N) distance vector shuffles to
    * the edges' fixed bucketing instead).
    */
  private[graft] def bfsDistancesOf(e: DataFrame, rounds: Int,
      broadcastLabels: Boolean = true,
      nodes: Option[DataFrame] = None): DataFrame = {
    // Seed = the lowest-keyed customer IN THE NODE SET — seeding on a
    // customer with no domestic trade (not a node) would leave every
    // distance at the sentinel and the output empty. Both the seed scan
    // and the init's node set read the memoized [[domesticNodes]] when
    // provided (the distinct-src set IS the node set, so min over it
    // equals min over the raw src stream).
    val seedSrc = nodes.map(_.select(col("node").as("cnode")))
      .getOrElse(e.select(col("src").as("cnode")))
    val seeds = seedSrc.filter(col("cnode") < 1000000L)
      .agg(min(col("cnode")).as("seed"))
    var dist = nodes.getOrElse(e.select(col("src").as("node")).distinct())
      .join(seeds, col("node") === col("seed"), "left")
      .select(col("node"),
        when(col("seed").isNotNull, 0L).otherwise(Unreached).as("d"))
      .localCheckpoint()
    // One aggregate per round, no fold-back join (r15): Bellman-Ford's
    // dist_i(v) = min(dist_{i-1}(v), 1 + min over in-neighbors) is a
    // single min over the union of the self-distance and the relaxed
    // contributions — same union-min shape as [[componentLabelsOf]],
    // one exchange per round instead of aggregate + broadcast + join.
    def round(d: DataFrame): DataFrame = {
      val relaxed = bfsRelax(e, d, broadcastLabels)
        .select(col("inode").as("node"), col("in_d").as("d"))
      relaxed.unionAll(d).groupBy("node").agg(min(col("d")).as("d"))
    }
    // NOT fused (r16): the [[graphPagerank]] two-rounds-per-action fusion
    // was A/B'd here too — job count stayed flat (31→31; AQE stage jobs
    // replace the saved checkpoint actions) and task count ROSE (the
    // relax-join + union diamond over the inner round is not fully
    // exchange-reused), so per-round checkpoints stay.
    for (_ <- 1 to rounds) {
      dist = round(dist).localCheckpoint()
    }
    dist
  }

  /** The edge-touching stage of one Bellman-Ford relaxation round — split
    * out (and used verbatim by the plan-shape spec) so the pinned plan IS
    * the production stage, the [[labelPropIncoming]] convention.
    */
  private[graft] def bfsRelax(e: DataFrame, dist: DataFrame,
      broadcastLabels: Boolean = true): DataFrame = {
    val d = if (broadcastLabels) broadcast(dist) else dist
    e.join(d, e("src") === dist("node"))
      .groupBy(col("dst").as("inode")).agg(min(col("d") + 1L).as("in_d"))
  }

  /** The shared ring-by-ring rollup of a converged distance vector. */
  private def bfsRollup(dist: DataFrame): DataFrame =
    dist
      .filter(col("d") < Unreached)
      .groupBy(col("d").as("dist"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("node") < 1000000L, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") >= 1000000L, 1L).otherwise(0L)).as("n_suppliers"),
        min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy("dist")

  def graphBfs(spark: SparkSession, dir: String): DataFrame =
    bfsRollup(bfsDistances(spark, dir, BfsRounds))

  /** BFS for the beyond-broadcast regime — the fourth bucketed-graph
    * adoption, on the same once-written [[bucketedDomesticEdges]] table:
    * each Bellman-Ford round's relaxation join is a MERGE-hinted
    * sort-merge join reading edge bucket i directly (zero edge re-shuffle,
    * plan-pinned on the [[bfsRelax]] production stage itself), only the
    * O(N) distance vector moves, shuffled to the edges' fixed bucketing.
    * Same relaxation algebra via the shared `broadcastLabels` flag, so the
    * flip is a pure cost decision — bit-identical to [[graphBfs]] on the
    * same unrolled-CTE oracle.
    */
  def graphBfsBucketed(spark: SparkSession, dir: String): DataFrame = {
    val eb = spark.table(bucketedDomesticEdges(spark, dir)).hint("MERGE")
    bfsRollup(bfsDistancesOf(eb, BfsRounds, broadcastLabels = false,
      nodes = Some(domesticNodes(spark, dir))))
  }

  /** DuckDB oracle for [[graphBfs]]: the same fixed Bellman-Ford rounds as
    * unrolled CTEs over the same edge construction. */
  def bfsOracleSql: String = {
    val rounds = (1 to BfsRounds).map { i =>
      s"d$i AS MATERIALIZED (SELECT l.node, least(l.d, coalesce(m.in_d, l.d)) AS d " +
        s"FROM d${i - 1} l LEFT JOIN (SELECT e.dst AS node, min(p.d + 1) AS in_d " +
        s"FROM edges e JOIN d${i - 1} p ON e.src = p.node GROUP BY e.dst) m ON l.node = m.node)"
    }.mkString(", ")
    "WITH base AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
      "JOIN supplier ON l_suppkey = s_suppkey WHERE c_nationkey = s_nationkey), " +
      "edges AS MATERIALIZED (SELECT cust AS src, supp + 1000000 AS dst FROM base UNION ALL SELECT supp + 1000000, cust FROM base), " +
      "seeds AS (SELECT min(src) AS seed FROM edges WHERE src < 1000000), " +
      "d0 AS MATERIALIZED (SELECT n.node, CASE WHEN s.seed IS NOT NULL THEN CAST(0 AS BIGINT) ELSE CAST(1000000 AS BIGINT) END AS d " +
      "FROM (SELECT DISTINCT src AS node FROM edges) n LEFT JOIN seeds s ON n.node = s.seed), " +
      rounds +
      s" SELECT d AS dist, count(*) AS n_nodes, " +
      "CAST(sum(CASE WHEN node < 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers, " +
      "CAST(sum(CASE WHEN node >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers, " +
      s"min(node) AS min_node, max(node) AS max_node FROM d$BfsRounds " +
      s"WHERE d < 1000000 GROUP BY d ORDER BY dist"
  }

  /** Number of peel rounds for [[graphKcore]]; the fixture trajectory is
    * converged well before this (pinned in the oracle's unrolled CTEs). */
  val KcoreRounds = 6

  /** 2-core decomposition by synchronous iterative peeling (Matula &
    * Beck 1983, batch-synchronous form): each round drops every node whose
    * CURRENT degree is below k, then keeps only edges with both endpoints
    * surviving; the fixed point is the k-core — the maximal subgraph where
    * everyone keeps ≥ k neighbors. The substrate is the UNIPARTITE part
    * co-occurrence graph (support ≥ 2 basket pairs, the
    * [[graphTriangles]] edge set) — on the bipartite trade graph the peel
    * converges in one round (supplier degrees sit two orders above any
    * customer-scale k), while here the cascade is real and measured:
    * dropping a pendant part lowers its neighbors' degrees, which peels
    * them next round (583 → 87 → 13 → 5 → 3 surviving parts at sf0.1).
    * k=2 is the canonical cycle-core: trees and pendant chains dissolve,
    * cycles survive. Output: one row per round with surviving node/edge
    * counts — the peeling TRAJECTORY, which pins the whole recurrence, not
    * just its fixed point.
    *
    * Scale: each round is ONE degree aggregate (map-side combined, O(N)
    * result) + a semi-join of edges against survivors — the same
    * per-superstep shape as PageRank, with a localCheckpoint per round
    * capping plan depth. Round count is O(peel depth), not O(N);
    * degeneracy ordering at 100 TB would batch by degree buckets exactly
    * like this, k at a time.
    */
  /** The undirected part co-occurrence graph (support ≥ 2 basket pairs,
    * the [[graphTriangles]] edge construction) as a DIRECTED-both-ways edge
    * table — the graph LOAD for part-space analytics, memoized per
    * (session, dir) exactly like [[tradeGraph]] (it is the expensive stage:
    * the basket pair expansion over the whole fact table — 6 s of the
    * original 10 s kcore at sf0.1 — and it is parameter-independent).
    */
  private[graft] def partsCoGraph(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "parts-cograph") {
      // Built over the shared basket load — the order-keyed fact shuffle
      // is paid once across the whole basket/graph family.
      val parts = Analytics.orderBaskets(spark, dir)
      val pairs = parts.select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(
          slice(col("ps"), i + 2, greatest(size(col("ps")) - i - 1, lit(0))),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
      val und = pairs
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
      und.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
        .localCheckpoint()
    }

  /** The part co-occurrence graph persisted ONCE bucketed by `src` — the
    * k-core sibling of [[bucketedDomesticEdges]] (same 8-bucket layout,
    * same exit-cleaned external-table discipline), for the regime where
    * the surviving-node vector has outgrown broadcast.
    */
  private[graft] def bucketedPartsCoGraph(spark: SparkSession, dir: String): String =
    graft.Tables.memo(spark, dir, "parts-cograph-bkt") {
      writeBucketedEdges(partsCoGraph(spark, dir), "pedges", dir)
    }

  /** [[domesticNodes]] for the part co-occurrence graph — the k-core peel's
    * round-0 alive set (same memo discipline).
    */
  private[graft] def partsNodes(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "parts-nodes") {
      partsCoGraph(spark, dir).select(col("src").as("node")).distinct().localCheckpoint()
    }

  /** The edge-touching stage of one peel round in the STATIC-edge
    * formulation ([[graphKcoreBucketed]]): alive-in-neighbor counts for
    * every node — deg(v) = #{s ∈ alive : (s,v) ∈ E} over the ORIGINAL
    * edge table. Split out (and used verbatim by the plan-shape spec) so
    * the pinned plan IS the production stage, the [[labelPropIncoming]]
    * convention; `broadcastAlive = false` is the bucketed-edge regime
    * where the O(N) alive vector shuffles to the edges' fixed bucketing.
    */
  private[graft] def kcoreAliveDeg(e: DataFrame, alive: DataFrame,
      broadcastAlive: Boolean = true): DataFrame = {
    val a = if (broadcastAlive) broadcast(alive) else alive
    e.join(a, e("src") === alive("node"))
      .groupBy(col("dst").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** k-core for the beyond-broadcast regime — the fifth bucketed-graph
    * adoption, and the one where the flip changes the recurrence SHAPE,
    * not just the join strategy: [[graphKcore]] REWRITES the edge table
    * every round (two endpoint semi-joins + a checkpoint), which is
    * exactly what a fixed bucketed layout cannot absorb — rewriting
    * destroys the bucketing. The static-edge formulation keeps the O(E)
    * table untouched in its buckets and iterates only the O(N) ALIVE
    * vector:
    *
    *   deg_i(v) = #{s ∈ alive_{i-1} : (s,v) ∈ E}   ([[kcoreAliveDeg]]:
    *              one co-partitioned merge join reading edge bucket i
    *              directly + a map-side-combined dst count — only O(N)
    *              partials move)
    *   alive_i  = {v : deg_i(v) ≥ k}
    *
    * Equal to the rewrite recurrence by induction on the monotone alive
    * sets: a node peeled at round j has alive-degree < k at every later
    * round (its alive-neighbor set only loses members) and can never
    * re-enter, so deg_i over alive_{i-1} counts exactly the degrees of
    * the rewrite's surviving edge table e_{i-1} = E ∩ alive_{i-1}², and
    * each round's summary (surviving parts / directed edges) reads off
    * the NEXT deg vector restricted to alive_i. The cost flip is honest
    * in both directions: the rewrite scans a SHRINKING edge set per round
    * (cheap late rounds — right for the broadcast regime), the static
    * form scans all E buckets every round but never re-shuffles or
    * re-writes them — at billion-node scale the only shape that works.
    * Bit-identical to [[graphKcore]] on the same unrolled-CTE oracle;
    * plan-pinned in `PlanShapeSpec`.
    */
  def graphKcoreBucketed(spark: SparkSession, dir: String, kCore: Int = 2): DataFrame =
    kcoreTrajectoryStatic(
      spark.table(bucketedPartsCoGraph(spark, dir)).hint("MERGE"),
      kCore, broadcastAlive = false, nodes = Some(partsNodes(spark, dir)))

  /** The static-edge alive-vector peel over a given edge table — the
    * [[graphKcoreBucketed]] body, parameterized ([[kcoreTrajectoryRewrite]]
    * rationale) so the scale bench can run both shapes on identical
    * inflated edges.
    */
  private[graft] def kcoreTrajectoryStatic(e: DataFrame, kCore: Int,
      broadcastAlive: Boolean = true,
      nodes: Option[DataFrame] = None): DataFrame = {
    // Only `deg` is checkpointed (r16): `alive` is a cheap narrow filter
    // over the checkpointed deg RDD, so leaving it LAZY keeps lineage at
    // depth one while dropping one materializing action per round (7 of
    // the query's ~14 actions — JobTrace: 51 → 37 jobs); each of its two
    // consumers (the relax join, the round summary) just re-filters the
    // in-memory deg blocks. Same for the round-0 distinct, which the first
    // deg checkpoint materializes inline.
    var deg = kcoreAliveDeg(e,
      nodes.getOrElse(e.select(col("src").as("node")).distinct()),
      broadcastAlive).localCheckpoint()
    val summaries = (1 to KcoreRounds).map { round =>
      val alive = deg.filter(col("deg") >= kCore).select("node")
      deg = kcoreAliveDeg(e, alive, broadcastAlive).localCheckpoint()
      // deg now counts alive in-neighbors for EVERY node; restricted to
      // the alive set it reads off this round's surviving subgraph:
      //   n_parts = alive nodes with ≥ 1 alive neighbor (= distinct src
      //             of the rewrite's e_round, by both-ways symmetry)
      //   n_edges = Σ_{v ∈ alive} deg(v) (= |e_round|, each directed
      //             edge counted once at its dst endpoint)
      deg.join(alive.withColumnRenamed("node", "anode"), col("node") === col("anode"))
        .agg(count(lit(1)).as("n_parts"),
          coalesce(sum(col("deg")), lit(0L)).as("n_edges_directed"))
        .select(lit(round.toLong).as("round"), col("n_parts"),
          col("n_edges_directed"))
    }
    summaries.reduce(_ unionAll _).orderBy("round")
  }

  def graphKcore(spark: SparkSession, dir: String, kCore: Int = 2): DataFrame =
    kcoreTrajectoryRewrite(partsCoGraph(spark, dir), kCore)

  /** The rewrite-recurrence peel over a given starting edge table — the
    * [[graphKcore]] body, parameterized so the scale bench can adjudicate
    * the two recurrence SHAPES on identical inflated edges.
    *
    * Per-round: the survivor set is O(N) ≪ O(E) and BROADCASTS into both
    * endpoint semi-joins (the [[graphPagerank]] rank-vector argument — a
    * checkpointed table has no stats, so without the hint both joins went
    * sort-merge; measured 0.9 s → 0.3 s per round at sf0.1; beyond
    * broadcast scale [[graphKcoreBucketed]] is the implemented flip —
    * note it must also change the recurrence shape, since the per-round
    * edge REWRITE here destroys a fixed bucketing). localCheckpoint per
    * round caps plan depth and materializes each round exactly once — a
    * lazy persist chain instead let AQE's eager broadcast-stage
    * materialization race ahead of the unfilled caches and recompute the
    * whole prefix per round (measured 21 s vs 3 s steady-state).
    */
  private[graft] def kcoreTrajectoryRewrite(e0: DataFrame, kCore: Int): DataFrame = {
    var e = e0
    val summaries = (1 to KcoreRounds).map { round =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= kCore).select("src")
      e = e.join(broadcast(keep), "src")
        .join(broadcast(keep.withColumnRenamed("src", "dst")), "dst")
        .select("src", "dst").localCheckpoint()
      e.agg(
        countDistinct(col("src")).as("n_parts"),
        count(lit(1)).as("n_edges_directed"))
        .select(lit(round.toLong).as("round"), col("n_parts"),
          col("n_edges_directed"))
    }
    summaries.reduce(_ unionAll _).orderBy("round")
  }

  /** DuckDB oracle for [[graphKcore]]: the same peel rounds as unrolled
    * materialized CTEs over the same co-occurrence edge construction. */
  def kcoreOracleSql: String = {
    val k = 2
    val rounds = (1 to KcoreRounds).map { i =>
      s"e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e " +
        s"JOIN (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k) ka ON e.src = ka.src " +
        s"JOIN (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k) kb ON e.dst = kb.src)"
    }.mkString(", ")
    val summaries = (1 to KcoreRounds).map { i =>
      s"SELECT CAST($i AS BIGINT) AS round, " +
        s"CAST(count(DISTINCT src) AS BIGINT) AS n_parts, " +
        s"CAST(count(*) AS BIGINT) AS n_edges_directed FROM e$i"
    }.mkString(" UNION ALL ")
    "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
      "und AS MATERIALIZED (SELECT a.l_partkey AS x, b.l_partkey AS y FROM op a " +
      "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      "GROUP BY 1, 2 HAVING count(*) >= 2), " +
      "e0 AS MATERIALIZED (SELECT x AS src, y AS dst FROM und " +
      "UNION ALL SELECT y, x FROM und), " +
      rounds + " " + summaries + " ORDER BY round"
  }

  /** Degree assortativity of the trade graph — Newman's r: the Pearson
    * correlation of endpoint degrees over directed edges. A bipartite
    * hub-and-spoke market is strongly DISassortative (high-degree suppliers
    * trade with low-degree customers), so r ≪ 0 is the expected, meaningful
    * signal. All six correlation sums (n, Σdx, Σdy, Σdx², Σdy², Σdxdy) are
    * exact int64 over integer degrees; the only float is the final
    * covariance/sqrt ratio — one deterministic IEEE expression from exact
    * integer inputs, micro-rounded identically in both engines.
    *
    * Scale: degrees ride along the memoized [[tradeGraph]] (outdeg is
    * already attached per src); the dst-side degree joins as an O(N)
    * BROADCAST dim, and the six sums are one map-side-combined aggregate.
    */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = tradeGraph(spark, dir)
    val deg = e.select(col("src"), col("outdeg")).distinct()
    val ed = e.select(col("dst"), col("outdeg").as("dx"))
      .join(broadcast(deg.select(col("src").as("dst"), col("outdeg").as("dy"))), "dst")
    ed.agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"), sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n").as("n_edges"),
        floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))) *
          1000000 + 0.5).cast("long").as("r_micro"))
  }

  /** DuckDB oracle for [[graphAssortativity]] — same edge construction,
    * same exact-integer sums, same single IEEE ratio. */
  def assortativityOracleSql: String =
    "WITH base AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey), " +
      "e AS (SELECT cust AS src, supp + 1000000 AS dst FROM base " +
      "UNION ALL SELECT supp + 1000000, cust FROM base), " +
      "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1), " +
      "ed AS (SELECT da.d AS dx, db.d AS dy FROM e " +
      "JOIN deg da ON e.src = da.src JOIN deg db ON e.dst = db.src), " +
      "s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dx) AS BIGINT) AS sx, " +
      "CAST(sum(dy) AS BIGINT) AS sy, CAST(sum(dx*dx) AS BIGINT) AS sxx, " +
      "CAST(sum(dy*dy) AS BIGINT) AS syy, CAST(sum(dx*dy) AS BIGINT) AS sxy FROM ed) " +
      "SELECT n AS n_edges, CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE) / " +
      "(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) " +
      "* 1000000 + 0.5) AS BIGINT) AS r_micro FROM s"

  /** Neighbor-set Jaccard similarity between suppliers — "suppliers serving
    * the same customers", the graph-structural node-similarity query behind
    * every who-competes-with-whom / substitute-recommendation report.
    * J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| over customer neighborhoods in the
    * trade graph, reported in integer micros (∩·1e6 div ∪ — pure int64, so
    * both engines agree bit-for-bit). Top 100 by similarity.
    *
    * Scale: candidates come from co-occurrence, never enumeration — only
    * supplier pairs SHARING at least one customer are generated (explode
    * each customer's sorted supplier set through the same partition-local
    * pair kernel as [[graft.ops.Analytics.basketPairs]]: one customer-keyed
    * shuffle + one pair-keyed shuffle), the pair count per customer rides
    * the sorted-array expansion, and the intersection size IS the pair
    * multiplicity (count per pair) — no arrays ever join. Neighborhood
    * sizes are an O(|suppliers|) aggregate BROADCAST into the final
    * scoring join. A celebrity customer (one trading with every supplier)
    * is this query's hot bucket; at 100 TB cap or sample its supplier set
    * exactly as [[graft.ops.LlmPipeline.bucketedPairs]] star-links hot LSH
    * buckets.
    */
  def graphNeighborJaccard(spark: SparkSession, dir: String): DataFrame = {
    // The customer→supplier half of the memoized [[tradeGraph]] IS the
    // distinct trading-pair relation this query used to rebuild with its
    // own lineitem⋈orders + distinct (r15: the graph LOAD is shared, the
    // supplier degree rides the edge table's precomputed outdeg — one
    // checkpointed scan instead of a fact join + two aggregates; 3.5 →
    // 2.9 s warm at sf0.1, and in the shared bench JVM the load is
    // already paid by whichever trade-graph query ran first).
    val base = tradeGraph(spark, dir).filter(col("src") < 1000000L)
      .select(col("src").as("cust"), (col("dst") - 1000000L).as("supp"))
    val nbrSize = tradeGraph(spark, dir).filter(col("src") >= 1000000L)
      .select((col("src") - 1000000L).as("supp"), col("outdeg").as("deg"))
      .distinct()
    val perCust = base.groupBy("cust")
      .agg(sort_array(collect_set(col("supp"))).as("ss"))
    // TYPED flatMap, not the transform/flatten HOF kernel basketPairs
    // uses: higher-order functions evaluate interpreted (outside
    // WholeStageCodegen), irrelevant for baskets (<= 7 lines, tiny
    // pair count) but dominant here (Sum_cust C(deg,2) ~ 12.5M pairs at
    // sf0.1, avg deg 39). Measured on that expansion: struct-HOF 4.8s,
    // packed-long HOF 4.1s, typed flatMap with a compiled while-loop
    // 2.9s, hand map-side combine in mapPartitions 5.5s (boxed-key
    // churn - Tungsten's partial hash agg already does that job
    // better). The packed key needs ids < 2^31, checked per customer on
    // the sorted `ss`'s last element.
    import spark.implicits._
    // AQE coalesces the collect_set output by its INPUT bytes (~15k tiny
    // rows → 2 post-shuffle tasks at sf0.1, measured via JobTrace: 5.25 s
    // of expansion CPU serialized onto 2 cores). The quadratic fanout is
    // invisible to byte-based coalescing, so parallelism for the expansion
    // is pinned explicitly — an exact count survives AQE — and sized by
    // the session's parallelism, never a local constant (guide §2.6).
    perCust.select("ss").as[Array[Long]]
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { ss =>
        require(ss.isEmpty || ss(ss.length - 1) < (1L << 31),
          s"packed pair key needs supplier ids < 2^31, saw ${ss(ss.length - 1)}")
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
      .groupBy(col("value").as("pk")).agg(count(lit(1)).as("inter"))
      .select(shiftrightunsigned(col("pk"), 32).as("sa"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("sb"), col("inter"))
      .join(broadcast(nbrSize.select(col("supp").as("sa"), col("deg").as("deg_a"))), "sa")
      .join(broadcast(nbrSize.select(col("supp").as("sb"), col("deg").as("deg_b"))), "sb")
      .select(col("sa").as("supp_a"), col("sb").as("supp_b"), col("inter"),
        expr("(inter * 1000000) div (deg_a + deg_b - inter)").as("jaccard_micro"))
      .orderBy(col("jaccard_micro").desc, col("supp_a"), col("supp_b"))
      .limit(100)
  }

  /** DuckDB oracle for [[graphNeighborJaccard]] — pair multiplicity over a
    * shared-customer self-join (the quadratic textbook form the Spark side
    * deliberately avoids; fine at oracle scale). */
  def neighborJaccardOracleSql: String =
    "WITH base AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp FROM lineitem " +
      "JOIN orders ON l_orderkey = o_orderkey), " +
      "deg AS (SELECT supp, CAST(count(*) AS BIGINT) AS deg FROM base GROUP BY supp), " +
      "inter AS (SELECT a.supp AS supp_a, b.supp AS supp_b, CAST(count(*) AS BIGINT) AS inter " +
      "FROM base a JOIN base b ON a.cust = b.cust AND a.supp < b.supp GROUP BY 1, 2) " +
      "SELECT supp_a, supp_b, inter, (inter * 1000000) // (da.deg + db.deg - inter) AS jaccard_micro " +
      "FROM inter JOIN deg da ON da.supp = supp_a JOIN deg db ON db.supp = supp_b " +
      "ORDER BY jaccard_micro DESC, supp_a, supp_b LIMIT 100"
}
