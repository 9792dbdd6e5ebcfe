package graft.ops

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Large-scale training-data pipeline operators (north star:
  * BASELINE.json "north_star"): deduplication, similarity search, and text
  * analysis over the `documents` / `embeddings` fixtures. The reference has no
  * such surface — it ships SQL to ClickHouse (mkpipe_extractor_clickhouse/
  * __init__.py:96-101) — so these are designed Spark-first for 100 TB:
  *
  *   - exact dedup groups on a 256-bit content hash, so the shuffle carries
  *     (hash, doc_id) pairs — never the document bodies;
  *   - near-dup detection is MinHash + LSH banding: the band bucket is the
  *     shuffle key, candidate pairs only form inside buckets — no O(n²)
  *     cross-join ever materializes;
  *   - similarity search is brute-force top-k here (TakeOrderedAndProject:
  *     per-partition heaps), with the LSH/IVF bucketed path as the documented
  *     scale-out (prune to candidate buckets, then exact re-rank).
  */
object LlmPipeline {

  // ---------------------------------------------------------------- dedup

  /** Exact text dedup: one surviving row (min doc_id) per distinct text.
    * Groups on sha2(text) so at 100 TB the shuffle moves 32-byte keys, not
    * documents; collision probability at 2^128 docs is negligible.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
      .select("doc_id", "dup_cnt")
      .orderBy("doc_id")

  /** MinHash signature parameters: 64 hashes = 16 bands × 4 rows. With
    * Jaccard threshold t, the LSH S-curve gives P(candidate) = 1-(1-t^4)^16 —
    * ~0.97 at t=0.7, ~0.04 at t=0.2.
    */
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = NumHashes / Bands
  val ShingleLen = 3

  /** The composable HOF formulation of the MinHash signature (hash h of
    * shingle s is xxhash64(s, h); signature = per-h min over shingles). Kept
    * as the built-ins-only reference formulation — but HOF lambdas evaluate
    * interpreted per element, which made this the bench hotspot; the
    * production path is the native [[graft.functions.MinHashSignature]]
    * expression (one JIT'd loop per row, ~100× faster).
    */
  def minhashSignatureHof(text: Column): Column = {
    val tokens = split(text, " ")
    val shingles = array_distinct(
      transform(sequence(lit(0), greatest(size(tokens) - ShingleLen, lit(0))),
        i => concat_ws(" ", slice(tokens, i + 1, lit(ShingleLen)))))
    transform(sequence(lit(0), lit(NumHashes - 1)),
      h => aggregate(shingles, lit(Long.MaxValue),
        (acc, s) => least(acc, xxhash64(s, h))))
  }

  /** Hot-bucket guard for LSH banding: buckets up to this size generate
    * all pairs (the exact LSH contract); larger buckets — the boilerplate
    * cluster / empty-document pile that every real corpus has — switch to
    * star-linking, pairing each member with the bucket's min doc_id. A
    * degenerate bucket of b docs then emits b-1 pairs instead of b(b-1)/2,
    * so one hot bucket can never go quadratic and kill the stage at scale.
    *
    * Recall trade, stated precisely: within an oversized bucket, pairs not
    * involving the representative are no longer emitted directly. For
    * DEDUP that costs nothing — members confirm against the representative
    * and transitively collapse to it (exactly how an oversized bucket is,
    * in fact, a near-identical cluster). For general similarity-pair
    * enumeration the trade is documented recall loss on non-representative
    * pairs of hot buckets only; sub-bucket salting (re-hash with a second
    * band inside the bucket) is the recall-preserving alternative.
    */
  val MaxAllPairsBucket = 32

  /** Persisted (doc_id, sig) signatures + the LSH-banded candidate pairs.
    * Signatures are tiny (64×8B) and reused by several downstream operators
    * — memoized per (session, dir) the way Tables.t caches plans, so
    * dedup_near_minhash / dedup_ngram_jaccard / curation_pipeline share ONE
    * persisted signature table per session instead of each leaking a fresh
    * MEMORY_AND_DISK entry per invocation.
    */
  private def minhashCandidates(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.Tables.memo(spark, dir, "minhash") {
      val sigs = t(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.MinHashSignature.minhash(spark, col("text"), NumHashes, ShingleLen).as("sig"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (sigs, lshCandidatePairs(sigs))
    }

  /** LSH-banded near-dup candidate pairs from (doc_id, sig) signatures:
    * explode 16 bands → bucket = hash(band slice) → ONE
    * `groupBy(band, bucket)` collecting the sorted member list → per-bucket
    * pair generation with array HOFs → distinct. Band buckets carry only
    * (doc_id, band, bucket) — signatures don't travel, and candidate
    * generation is a single shuffle (the earlier window + self-join form
    * re-shuffled the same key three times and cost 2× on the bench).
    *
    * Pair generation is guarded by [[MaxAllPairsBucket]]: small buckets emit
    * all pairs (sorted list ⇒ doc_a < doc_b by construction); oversized
    * (hot) buckets star-link members to the bucket's min doc_id, bounding a
    * b-doc bucket at b−1 pairs. The collect_list state per bucket is the
    * member-id array — O(bucket size) longs, the quantity banding already
    * bounds, and the worst degenerate bucket costs b ids in one row rather
    * than b² join output.
    *
    * Exposed private[graft] so the adversarial spec can drive it with a
    * synthetic all-identical corpus.
    */
  private[graft] def lshCandidatePairs(sigs: DataFrame): DataFrame =
    bucketedPairs(bandedSig(sigs))

  /** (doc_id, band, bucket) banding of a (doc_id, sig) signature table —
    * the LSH key stream both the self-pair kernel ([[bucketedPairs]]) and
    * the text modality of the cross-table incremental dedup
    * ([[incrementalDedup]], [[Modality.text]]) consume.
    */
  private[graft] def bandedSig(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        hash(col("band"), slice(col("sig"), col("band") * RowsPerBand + 1, lit(RowsPerBand))).as("bucket"))

  /** Estimated Jaccard from two aligned MinHash signatures: the fraction of
    * agreeing positions.
    */
  private[graft] def estJaccard(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p)) / lit(NumHashes.toDouble)

  /** Candidate pairs from a (doc_id, band, bucket) banding — the shared
    * guts of every banded-LSH family (MinHash bands here, SimHash chunks in
    * [[dedupSimhash]]): ONE `groupBy(band, bucket)` collecting the sorted
    * member list, then per-bucket pair generation with array HOFs. All (i<j)
    * pairs of the sorted list for small buckets (so doc_a < doc_b by
    * construction; ≤ C(MaxAllPairsBucket, 2) interpreted-lambda struct
    * builds per bucket — bounded and tiny next to a shuffle); hot buckets
    * star-link to the bucket min, bounding a b-doc bucket at b−1 pairs. The
    * collect_list state per bucket is the member-id array — O(bucket size)
    * longs, the quantity banding already bounds, and the worst degenerate
    * bucket costs b ids in one row rather than b² join output.
    */
  private[graft] def bucketedPairs(banded: DataFrame): DataFrame = {
    val ms = col("ms")
    val n = size(ms)
    val allPairs = flatten(transform(ms, (x, i) =>
      transform(slice(ms, i + lit(2), greatest(n - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))
    val starPairs = transform(slice(ms, lit(2), n - 1),
      y => struct(element_at(ms, 1).as("a"), y.as("b")))
    // Parallelism here is deliberately LEFT to AQE (r16 measured-and-
    // rejected): pinning both exchanges to defaultParallelism — the
    // dedupEditDistance treatment — inflated the family instead of helping
    // it (dedup_semantic 2.07 → 3.58 s: the wide pair layout propagates
    // into the component loop's persisted tables; dedup_near_embedding
    // 1.32 → 1.68 s: its serial CPU is the SRP banding in the scan stage
    // below this aggregate, which no exchange above can spread). The
    // KB-sized bucket tables genuinely fit one task.
    banded.groupBy("band", "bucket")
      .agg(array_sort(collect_list(col("doc_id"))).as("ms"))
      .filter(n >= 2)
      .select(explode(when(n <= MaxAllPairsBucket, allPairs).otherwise(starPairs)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** SimHash near-dup pairs: the third dedup family (exact hash / shingle
    * Jaccard / bit-fingerprint hamming). Candidates by PIGEONHOLE banding of
    * the 64-bit [[graft.functions.SimHash64]] fingerprint into 4 disjoint
    * 16-bit chunks: two fingerprints within hamming distance 3 differ in at
    * most 3 chunks, so they MUST agree on at least one — sharing any
    * (chunk-index, chunk-value) bucket is a complete candidate generator for
    * maxHamming ≤ 3 (no recall loss below the hot-bucket cap, unlike
    * MinHash's probabilistic S-curve). Verification is
    * `bit_count(fp_a XOR fp_b) <= maxHamming` — pure codegen'd bit ops; only
    * (doc_id, chunk) rows shuffle, fingerprints re-attach for candidates.
    */
  def dedupSimhash(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val fp = t(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.SimHash64.simhash(spark, col("text")).as("fp"))
    val chunks = array((0 until 4).map(i =>
      struct(lit(i).as("band"),
        shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))): _*)
    val banded = fp.select(col("doc_id"), explode(chunks).as("bc"))
      .select(col("doc_id"), col("bc.band").as("band"), col("bc.bucket").as("bucket"))
    val fa = fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val fb = fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    bucketedPairs(banded).join(fa, "doc_a").join(fb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Confirmed near-dup pairs (est_jaccard ≥ 0.5), persisted + memoized per
    * (session, dir) like the signatures: the pair table is tiny (dup rate ×
    * corpus) but three operators consume it (`dedup_near_minhash`,
    * `curation_pipeline`, `dedup_clusters`) — unshared, each re-ran band
    * explode + bucket shuffle + verify join.
    */
  private def confirmedPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "confirmed") {
      val (sigs, cands) = minhashCandidates(spark, dir)
      // Re-attach signatures only for the (few) surviving candidates, then
      // estimate Jaccard as the fraction of agreeing signature positions.
      val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      cands.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  def dedupNearMinhash(spark: SparkSession, dir: String): DataFrame =
    confirmedPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** Connected components over the verified near-dup graph: turns pairwise
    * matches into dedup DECISIONS — every document labeled with its
    * component's min doc_id, so "keep one per cluster" is `label == doc_id`
    * and transitive duplicates (a~b, b~c, a≁c) collapse to one
    * representative, which pairwise anti-joins alone cannot guarantee.
    *
    * Algorithm: min-label propagation WITH pointer doubling. Each round every
    * node adopts min(labels of its closed neighborhood, label(label(node))) —
    * the neighborhood term walks the min label one hop, the label-of-label
    * term (a self-join of the label table: every label value is itself a
    * paired doc_id, so the inner join drops nothing) halves the remaining
    * pointer distance. Convergence is O(log diameter) rounds instead of
    * O(diameter): a chain-shaped component — boilerplate drift, doc A ~ B ~
    * C ~ ... — of diameter 10⁹ still converges in ~30 rounds, so the round
    * cap is a true backstop, not a reachable failure mode (plain propagation
    * crashed on any component deeper than the cap). Each round is two
    * shuffle-joins + one min-aggregate; every 4th round `localCheckpoint`s
    * the labels so lineage stays bounded no matter how many rounds run. The
    * driver loop is control flow only: a per-round emptiness probe of the
    * changed set, the same shape Pregel/GraphX runs.
    */
  private[graft] def componentLabels(pairs: DataFrame, maxRounds: Int = 40): DataFrame = {
    // Propagation runs ONLY over nodes that appear in some pair: a dedup
    // corpus is overwhelmingly singletons, which are their own (size-1)
    // clusters by definition — excluding them shrinks every round's shuffle
    // from O(corpus) to O(paired docs) and they rejoin as self-labels in
    // [[dedupClusters]]. Self-loops on paired nodes keep each node's own id
    // in its closed-neighborhood min.
    // Persisted: paired sits in the lineage of edges AND round-0 labels —
    // unpersisted, each re-runs whatever pipeline produced the pairs
    // (measured 3× the query time when fed MinHash candidates).
    val paired = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .union(paired.select(col("doc_id").as("src"), col("doc_id").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = paired.select(col("doc_id"), col("doc_id").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var round = 0
    var converged = false
    // Convergence witness (r15): min-propagation is monotone — every
    // node's label is non-increasing round over round — so the label SUM
    // over the static paired-node set strictly decreases exactly when any
    // node changed. Comparing this round's sum to the previous round's is
    // therefore an EXACT convergence test that costs one aggregate over
    // the (persisted) label table, where the former probe joined next to
    // prev and ran isEmpty — a two-sided join plus a take(1) job per
    // round. The sum rides DECIMAL(38,0) so a 10⁹-node × 10¹⁸-id corpus
    // cannot wrap int64 into a false fixed point. A side benefit: the
    // aggregate scans every partition (no short-circuit), so it fully
    // materializes the round's persist and the final count() job the
    // isEmpty probe needed is gone too.
    var prevSum: Option[java.math.BigDecimal] = None
    while (!converged && round < maxRounds) {
      val viaEdges = edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("label"))
      // Pointer doubling: label(label(x)). Inner join is total — every label
      // value is a paired doc_id (init: identity; step: min over existing
      // label values), so it always has a row in the label table. Skipped in
      // round 0, where labels ARE the identity map and the self-join would
      // be a no-op costing two shuffle stages — on the common shallow-blob
      // graph (2-round convergence) that's a third of the per-query work.
      val contrib =
        if (round == 0) viaEdges
        else viaEdges.union(
          labels.select(col("doc_id"), col("label").as("mid"))
            .join(labels.select(col("doc_id").as("mid"), col("label").as("dlabel")), "mid")
            .select(col("doc_id"), col("dlabel").as("label")))
      var next = contrib.groupBy("doc_id").agg(min(col("label")).as("label"))
      // Truncate lineage periodically: each round's plan references the
      // previous round's; past a few rounds Catalyst planning time and
      // recovery cost grow without bound unless the chain is cut.
      next = if (round % 4 == 3) next.localCheckpoint(true)
             else next.persist(StorageLevel.MEMORY_AND_DISK)
      // The round-0 comparison is skipped: with any non-self pair present,
      // round 0 always relabels something, so the check could only fire on
      // degenerate all-self-loop input (where it merely costs one extra
      // round).
      val curSum = Option(next
        .agg(sum(col("label").cast("decimal(38,0)")).as("s")).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      converged = round > 0 && prevSum.exists(_.compareTo(curSum) == 0)
      prevSum = Some(curSum)
      labels.unpersist()
      labels = next
      round += 1
    }
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    edges.unpersist()
    paired.unpersist()
    labels
  }

  /** Full corpus labeling, memoized per (session, dir): the iterative
    * label propagation is the most expensive plan in the inventory and
    * THREE consumers read its output (`dedup_clusters`,
    * `dedup_cluster_stats`, repeated bench invocations) — cluster once,
    * consume many, the production shape.
    *
    * The memoized table is eagerly `localCheckpoint`ed, NOT persisted:
    * the propagation's logical plan references each previous round three
    * times (neighbor join + label-of-label self-join), so the final tree is
    * exponential in rounds-since-checkpoint — with a plain persist every
    * downstream `count()` still paid ~3 s of DRIVER plan
    * analysis/cache-matching over that tree (measured; the scan itself was
    * a cache hit). The checkpoint collapses the lineage to a LogicalRDD:
    * consumers plan against a leaf. Also stops each invocation from
    * leaving its own persisted label table behind (componentLabels keeps
    * its final labels cached by design; the checkpoint lets that round
    * cache be released with the plan).
    */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "clusters") {
      val nodes = t(spark, dir, "documents").select(col("doc_id"))
      val labels = componentLabels(confirmedPairs(spark, dir).select("doc_a", "doc_b"))
      val singletons = nodes.join(
          labels.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("label"))
      val all = labels.union(singletons)
      val sizes = all.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      val result = all.join(sizes, "label")
        .select(col("doc_id"), col("label").as("cluster"), col("cluster_size"))
        .localCheckpoint(true)
      labels.unpersist()
      result
    }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** Per-cluster report over [[dedupClusters]] — the artifact a curation
    * run actually consumes: one row per component with its size (the size
    * column IS the dedup histogram) and the representative document's
    * content hash (the cluster id is the component's min doc_id, so the
    * representative's sha2 re-attaches with one join — no text travels for
    * non-representatives). Ordered largest-cluster-first: the head of this
    * report is the boilerplate/template pile a curation pass inspects.
    * Cluster ids and sizes are deterministic (min-label components over the
    * seed-fixed MinHash graph), but no SQL oracle can reproduce the
    * underlying near-dup pairs — pinned by scalatest instead.
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val reps = t(spark, dir, "documents")
      .select(col("doc_id").as("cluster"), sha2(col("text"), 256).as("rep_hash"))
    // clusterLabels already carries cluster_size per member, and the cluster
    // id is the component's min doc_id — a member — so the representative's
    // row (doc_id == cluster) IS the one-row-per-cluster report: no re-count,
    // no extra shuffle, just a filter on the checkpointed label table.
    clusterLabels(spark, dir)
      .filter(col("doc_id") === col("cluster"))
      .join(reps, "cluster")
      .select(col("cluster"), col("cluster_size"), col("rep_hash"))
      .orderBy(col("cluster_size").desc, col("cluster"))
  }

  /** Exact n-gram (word-shingle) Jaccard over the LSH candidate pairs: the
    * verify-stage of a production dedup — MinHash banding proposes, exact
    * Jaccard disposes. Shingle sets travel as distinct 64-bit hashes
    * ([[graft.functions.ShingleHashes]] — one codegen'd pass per doc, long
    * arrays through the shuffle instead of shingle strings; Jaccard over
    * the hash sets equals string-set Jaccard modulo 64-bit collisions).
    * Only candidate pairs ever join back to the shingle sets, so document
    * content is shuffled for ~candidates rows, not n².
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val (_, cands) = minhashCandidates(spark, dir)
    val docs = t(spark, dir, "documents").select(col("doc_id"),
      graft.functions.ShingleHashes.shingleHashes(spark, col("text"), ShingleLen).as("sh"))
    val da = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val db = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cands.join(da, "doc_a").join(db, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT Jaccard threshold self-join via prefix filtering (the All-Pairs /
    * PPJoin family — Bayardo et al., WWW 2007; Xiao et al., WWW 2008): the
    * no-false-negative complement to the probabilistic MinHash path, over
    * word 3-SHINGLE sets. Shingles, not words, are the similarity unit for
    * the same reason the MinHash path shingles: a small dense word
    * vocabulary (this fixture has 31 distinct words — every word is in most
    * documents) makes any token-level set join degenerate, while the
    * shingle space grows as vocab³ and is Zipf-shaped — exactly the
    * rare-token mass prefix filtering exploits (measured here: word-level
    * candidates 4e7 / 61 s at sf0.1; shingle-level is ~200× smaller).
    *
    * Filter: shingles are globally ordered by (document frequency asc,
    * shingle asc) — rarest first — and each document emits only its first
    * m − ⌈τ·m⌉ + 1 shingles in that order (its "prefix") with their
    * positions. A pair with J ≥ τ must (a) satisfy the length condition
    * τ·max(|A|,|B|) ≤ min(|A|,|B|), (b) share a prefix shingle (pigeonhole
    * over the required overlap ⌈τ·m⌉ — the prefix-filter theorem), and
    * (c) at its FIRST shared shingle (positions i, j) admit overlap bound
    * 1 + min(m_a−i, m_b−j) ≥ ⌈τ(m_a+m_b)/(1+τ)⌉ (PPJoin's positional
    * filter — sound because every further shared shingle sits after i and
    * after j). The surviving candidates are a SUPERSET of the truth and the
    * exact |∩|/|∪| verify keeps exactly the true pairs. The DuckDB oracle
    * computes the textbook all-shared-shingles join, so its pass proves
    * the filter's losslessness on the fixture, not just the arithmetic.
    *
    * Scale: candidates form only under shared RARE shingles — frequency
    * ordering pushes boilerplate shingles outside every prefix (the naive
    * shingle self-join dies on one hot shingle's quadratic bucket). No
    * global rank table is ever materialized: the order IS the value
    * (df, shingle) sorted per-document by `sort_array` — no vocabulary-wide
    * window, no driver state, at any scale. Verification joins shingle
    * arrays for candidate ids only, and jaccard is reported in integer
    * micros (inter·1e6 div union, pure int64) so both engines agree
    * bit-for-bit. The production variant would verify over 64-bit shingle
    * hashes ([[graft.functions.ShingleHashes]]) to shuffle longs instead of
    * strings; strings here keep the oracle exact.
    */
  /** Memoized per (session, dir) like docTerms: each document's DISTINCT
    * word 3-shingles, df-ordered (rarest first) with the distinct count m.
    * Threshold-independent, so [[dedupJaccardPrefix]] (which reads it THREE
    * times per invocation — prefix generation + both verify sides;
    * un-persisted the shingle/df/sort pipeline would run three times,
    * measured 3.4s → 1.9s at sf0.1) and [[textNgramNovelty]] share one
    * build.
    */
  private[graft] def ppjDocs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "ppj_docs") {
      t(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(array_distinct(expr(
          // sequence(1, 0) would count DOWN in Spark — guard the short-doc case.
          "CASE WHEN size(ws) >= 3 THEN transform(sequence(1, size(ws) - 2), " +
            "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1])) ELSE CAST(array() AS array<string>) END")))
          .as("term"))
        .transform { sh =>
          val docFreq = sh.groupBy("term").agg(count(lit(1)).as("df"))
          sh.join(docFreq, "term")
            .groupBy("doc_id")
            .agg(sort_array(collect_list(struct(col("df"), col("term")))).as("ord"))
            .select(col("doc_id"),
              transform(col("ord"), o => o.getField("term")).as("toks"),
              size(col("ord")).cast("long").as("m"))
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  def dedupJaccardPrefix(spark: SparkSession, dir: String,
      thresholdMicro: Long = 800000L): DataFrame = {
    val docs = ppjDocs(spark, dir)
    // Prefix length m − ⌈τ·m⌉ + 1 with the ceil in exact integers:
    // ⌈τμ·m / 1e6⌉ = (τμ·m + 999999) div 1e6.
    val prefixes = docs.select(col("doc_id"), col("m"),
      posexplode(slice(col("toks"), lit(1),
        (col("m") - expr(s"($thresholdMicro * m + 999999) div 1000000") + 1).cast("int"))))
      .select(col("doc_id"), col("m"), (col("pos") + 1).as("pos"), col("col").as("term"))
    val cand = prefixes.select(col("term"), col("doc_id").as("doc_a"),
        col("m").as("m_a"), col("pos").as("pos_a"))
      .join(prefixes.select(col("term"), col("doc_id").as("doc_b"),
        col("m").as("m_b"), col("pos").as("pos_b")), "term")
      .filter(col("doc_a") < col("doc_b") &&
        least(col("m_a"), col("m_b")) * lit(1000000L) >=
          lit(thresholdMicro) * greatest(col("m_a"), col("m_b")) &&
        lit(1L) + least(col("m_a") - col("pos_a"), col("m_b") - col("pos_b")) >=
          expr(s"($thresholdMicro * (m_a + m_b) + ${1000000L + thresholdMicro} - 1) div ${1000000L + thresholdMicro}"))
      .select("doc_a", "doc_b").distinct()
    val a = docs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), col("m").as("m_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"), col("m").as("m_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long").as("inter"),
        (col("m_a") + col("m_b")).as("msum"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("msum") - col("inter")).as("uni"))
      .withColumn("jaccard_micro", expr("(inter * 1000000) div uni"))
      .filter(col("jaccard_micro") >= thresholdMicro)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-document n-gram NOVELTY against everything ingested before it —
    * the curation score behind "is this document new content or a remix of
    * the corpus so far" (the streaming-dedup complement: resemblance
    * scores pairs, novelty scores each doc against the whole prefix). A
    * doc's score is the fraction of its distinct word 3-shingles whose
    * FIRST occurrence (minimum doc_id, ingestion order) is the doc itself,
    * in integer micros. Boilerplate-heavy late documents score near 0;
    * the corpus opener scores exactly 1e6.
    *
    * Scale: reuses the memoized [[ppjDocs]] shingle table, then one
    * shingle-keyed min aggregate and one shingle-keyed join back — a hot
    * shingle costs a min + a fan-out count, never a pair expansion (this
    * is the same no-quadratic-bucket property the prefix join gets from df
    * ordering). The first-seer table is exactly the sidecar index the
    * incremental dedup sink would persist between batches.
    */
  /** The novelty kernel over a (doc_id, term) shingle table — split out so
    * the scale-stress suite can feed it a runtime-inflated corpus. */
  private[graft] def noveltyOf(sh: DataFrame): DataFrame = {
    val first = sh.groupBy("term").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) div n_shingles").as("novelty_micro"))
  }

  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame =
    noveltyOf(ppjDocs(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("term")))
      .orderBy("doc_id")

  /** Per-document benchmark-contamination SCORE — the filter-feature
    * complement of [[graft.ops.Analytics.curationContamination]]: that
    * query is the incident REPORT (only the colliding training docs, with
    * how many 8-token shingles and eval docs each hits); this one scores
    * EVERY training doc — distinct-shingle count, contaminated count, the
    * contaminated share in integer micros, and the binary flag — the
    * column a curation pipeline thresholds on alongside quality and
    * novelty (Brown et al. 2020 §4 ran the same two-sided analysis at
    * 13 grams; the fixture's short word-soup docs use the corpus-standard
    * word 3-shingles — the SAME shingle space as
    * [[textNgramNovelty]]/[[dedupJaccardPrefix]], so the memoized
    * [[ppjDocs]] build is shared where the report builds its own 8-gram
    * space). The "benchmark" here is the deterministic doc_id % 10 == 0
    * slice standing in for an eval suite (the report uses the source
    * column; two split conventions, deliberately).
    *
    * Scale: the benchmark side is DISTINCT shingles of the (small) eval
    * set — broadcast-sized by construction (eval suites are fixed-size
    * while training corpora grow), so the contamination check is a
    * broadcast semi-probe per training shingle: no shuffle of the training
    * side beyond its own doc_id aggregate, and a hot shingle costs fan-out
    * 1 (the bench side is distinct), never a pair expansion.
    */
  def textContamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = ppjDocs(spark, dir).select(col("doc_id"), explode(col("toks")).as("term"))
    val bench = sh.filter(col("doc_id") % 10 === 0).select("term").distinct()
    sh.filter(col("doc_id") % 10 =!= 0)
      .join(bench.withColumn("hit", lit(1L)), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        expr("(n_contaminated * 1000000) div n_shingles").as("contamination_micro"),
        (col("n_contaminated") > 0).as("flagged"))
      .orderBy("doc_id")
  }

  /** Distinct word-3-shingles of a (doc_id, text) table as 64-bit hashes —
    * the stored-index form of the novelty/prefix-join shingle space (longs
    * shuffle and store ~10× narrower than shingle strings; xxhash64
    * collisions at corpus scale cost one mis-attributed first-seer, not
    * correctness of any exact-dedup path).
    */
  private[graft] def shingleTerms64(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(array_distinct(expr(
        "CASE WHEN size(ws) >= 3 THEN transform(sequence(1, size(ws) - 2), " +
          "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1])) ELSE CAST(array() AS array<string>) END")))
        .as("term"))
      .select(col("doc_id"), xxhash64(col("term")).as("term64"))

  /** Incremental novelty scoring for one batch against a STORED first-seer
    * table (term64 → first_doc): each batch doc's novelty counts the
    * shingles whose first occurrence across stored ∪ batch is the doc
    * itself. Returns (scored batch rows, first-seer rows to append — batch
    * terms absent from the store, attributed to their earliest batch doc).
    * Replay-idempotent BY the first-doc attribution: a re-delivered doc
    * finds its own id as each of its terms' first seer, so it re-scores
    * identically (and the sink-membership gate drops the duplicate row).
    */
  private[graft] def noveltyScoreBatch(batch: DataFrame,
      stored: Option[DataFrame]): (DataFrame, DataFrame) = {
    val sh = shingleTerms64(batch)
    val batchFirst = sh.groupBy("term64").agg(min(col("doc_id")).as("batch_first"))
    val combined = stored match {
      case Some(s) => batchFirst
        .join(s.select(col("term64"), col("first_doc").as("stored_first")),
          Seq("term64"), "left")
        .select(col("term64"),
          least(col("batch_first"), coalesce(col("stored_first"), col("batch_first")))
            .as("first_doc"),
          col("stored_first").isNull.as("is_new_term"))
      case None => batchFirst
        .select(col("term64"), col("batch_first").as("first_doc"),
          lit(true).as("is_new_term"))
    }
    val perDoc = sh.join(combined, "term64")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) div n_shingles").as("novelty_micro"))
    val scored = batch.join(perDoc, Seq("doc_id"), "left")
      .select(batch.columns.map(col) ++ Seq(
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(col("novelty_micro"), lit(0L)).as("novelty_micro")): _*)
    val newSeers = combined.filter(col("is_new_term"))
      .select(col("term64"), col("first_doc"))
    (scored, newSeers)
  }

  /** Edit-distance near-dup self-join — EXACT Levenshtein ≤ k over the
    * corpus via Ed-Join PREFIX filtering (Xiao, Wang & Lin 2008, on the
    * q-gram bound of Gravano et al. 2001): one edit changes at most q gram
    * offsets, and every distinct q-gram missing from the other side must
    * occupy only changed offsets, so lev(a,b) ≤ k forces
    * |Ga ∩ Gb| ≥ max(|Ga|,|Gb|) − k·q over DISTINCT gram sets. With grams
    * globally ordered by (df asc, gram) — rarest first — the prefix-filter
    * theorem then says a qualifying pair must share a gram within each
    * doc's first k·q + 1 grams of that order, so candidates come from a
    * PREFIX×PREFIX equi join only (the [[dedupJaccardPrefix]] machinery on
    * character grams), with the |len_a − len_b| ≤ k length condition as a
    * join-time residual; every candidate then pays ONE banded
    * `levenshtein(a, b, k)` — Spark's threshold variant prunes the DP to
    * the 2k+1 diagonal band and abandons as soon as the band exceeds k,
    * so the verify is O(k·n) per pair (~25 µs at this fixture's text
    * length), not the O(n·m) full DP (~0.4 ms). An intermediate
    * Gravano-count filter (sorted-array intersect ≥ max(m_a, m_b) − k·q on
    * per-doc gram arrays) used to stand between the prefix join and a
    * FULL-DP verify; with the banded DP it costs more than it saves —
    * r15 stage profile at sf0.1: the count stage alone took 5.2 s
    * (175k candidate rows each carrying two ~1.5k-element gram arrays
    * through two joins) while the banded verify on ALL 175k prefix
    * candidates takes 0.37 s — so the count stage is gone and the banded
    * DP is the one per-pair op (whole query 12.0 s → ~6 s). The
    * candidate join's length residual already embeds the
    * [[graft.plans.LevenshteinLengthGuard]] implication (lev ≥ |Δlen|),
    * and the banded DP re-checks it in O(1) on entry; the rule's
    * production consumer remains [[graft.ops.Analytics.erBlockedMatch]],
    * whose verify still spells the guardable `levenshtein(a, b) <= k`.
    * The resemblance family (MinHash/PPJoin) scores
    * SET overlap of word shingles; this is the character-level metric —
    * transposed words are FAR here, NEAR there.
    *
    * The bound is vacuous only when BOTH docs have ≤ k·q grams (text
    * shorter than (k+1)·q − 1 chars): such micro-docs can sit within k
    * edits while sharing zero grams, so they get an explicit
    * constant-equi-key fallback join among themselves (a bounded-size
    * class by construction — and the no-cartesian invariant holds because
    * the key is a real equi key); docs under q chars have no grams at all
    * and ride the same fallback through the LEFT count-filter joins. A
    * first cut used an absolute df-cap + dropped-mass deduction instead of
    * prefixes: SOUND, but df scales with the corpus — at sf0.1 every doc
    * of this deliberately dense fixture fell into the mostly-hot fallback
    * and the query went all-pairs (measured 357 s). Rarest-first prefixes
    * adapt to the corpus (the same reason [[dedupJaccardPrefix]] df-orders
    * its shingles).
    *
    * The DuckDB oracle is the TEXTBOOK all-pairs join, so its pass proves
    * the whole filter stack lossless on the fixture (25 pairs at sf0.01;
    * also hash-verified at sf0.1 against the 12.5M-pair truth, 255 pairs),
    * the same oracle-as-losslessness-proof contract as
    * [[dedupJaccardPrefix]].
    */
  def dedupEditDistance(spark: SparkSession, dir: String, k: Int = 8,
      q: Int = 8): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("ln"))
    // Materialized once: TWO consumers (df counts, the prefix build) would
    // each re-run the explode+distinct gram pipeline (profiled 4.4 s per
    // pass at sf0.1, r14). Grams travel as xxhash64 LONGS from here on —
    // every join key gets ~8× cheaper than 8-char strings, and a collision
    // can only ADD a candidate (the prefix filter stays sound; the exact
    // verify decides membership).
    // r15: the distinct-gram-hash stream comes from the native
    // [[graft.functions.QGramHashes]] generator — one zero-copy pass per
    // doc, replacing the interpreted explode∘array_distinct∘transform∘
    // substring stack (bit-identical rows; the generator hashes each
    // char-window's byte range in place with Spark's own XXH64 seed-42
    // kernel). Measured at sf0.1: the gd stage 2.26 → 0.35 s through the
    // noop sink, whole query ~8.0 → ~6.5 s warm.
    // The documents table is ONE parquet file at fixture scale, so the scan
    // is one task and the checkpoint pins that single partition — r16
    // JobTrace read the gram pass at 0.5 s AND the downstream docFreq
    // partial aggregate at 1.6 s, both serialized on one core. Explicit
    // repartition by session parallelism (guide §2.6 — a data/cluster knob,
    // not a local constant) parallelizes generation and every gd consumer.
    val gd = docs.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("ln"),
        graft.functions.QGramHashes.qgramHashes(spark, col("text"), lit(q)).as(Seq("gram")))
      .localCheckpoint()
    val docFreq = gd.groupBy("gram").agg(count(lit(1)).as("ddf"))
    // Per-doc grams sorted rarest-first; the prefix is the first k·q + 1.
    // Materialized once — it feeds BOTH sides of the candidate self-join.
    // Singleton prefix slots are dropped AFTER the slice (r15): a gram
    // with ddf = 1 exists in exactly one document, so it can only ever
    // equi-join a doc to itself — pruned by doc_a < doc_b anyway. The
    // prefix membership itself must still be computed over ALL grams
    // (rarest-first order decides WHICH k·q + 1 grams are the prefix),
    // but the join never needs the join-inert rows. Measured honestly:
    // this fixture's templated text shares grams heavily, so only 270 of
    // 322,690 prefix rows are singletons at sf0.1 (~0 wall effect here);
    // on a natural-text corpus singleton grams DOMINATE rarest-first
    // prefixes and this is a large candidate-input cut. Output identical
    // either way (oracle-checked at both SFs).
    // Explicit hash repartition INSTEAD of the groupBy's own exchange
    // (hash(doc_id) satisfies the (doc_id, ln) clustering, so the aggregate
    // runs in place): an explicit count survives AQE, whose byte-based
    // coalescing was serializing the per-doc prefix sorts onto 2 tasks
    // (JobTrace r16: 1.25 s / 2 tasks on a 32-core session). collect_list
    // partials reduce nothing anyway — per-doc grams are distinct — so the
    // lost partial-aggregation does no harm; checkpoints don't carry
    // partitioning (LogicalRDD reports UnknownPartitioning), hence the
    // repartition sits here and not on gd.
    val pre = gd.join(docFreq, "gram")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .groupBy("doc_id", "ln")
      .agg(sort_array(collect_list(struct(col("ddf"), col("gram")))).as("ord"))
      .select(col("doc_id"), col("ln"),
        explode(slice(col("ord"), lit(1), lit(k * q + 1))).as("o"))
      .filter(col("o.ddf") >= 2)
      .select(col("doc_id"), col("ln"), col("o.gram").as("gram"))
      .localCheckpoint()
    val cand = pre.select(col("gram"), col("doc_id").as("doc_a"), col("ln").as("ln_a"))
      .join(pre.select(col("gram"), col("doc_id").as("doc_b"), col("ln").as("ln_b")), "gram")
      .filter(col("doc_a") < col("doc_b") && abs(col("ln_a") - col("ln_b")) <= k)
      .select("doc_a", "doc_b")
    // Micro-doc fallback (both sides ≤ k·q grams ⇔ ln ≤ (k+1)·q − 1),
    // banded by LENGTH BUCKET rather than a constant key: bucket width
    // k + 1 guarantees any pair with |ln_a − ln_b| ≤ k sits in the same or
    // adjacent buckets, so the A-leg emits {bkt, bkt + 1} and the join is a
    // real equi join — pair expansion is bounded by the per-length-window
    // short-doc mass, not quadratic in the WHOLE short-doc count (a corpus
    // dominated by short texts no longer degenerates to all-pairs; only
    // same-length-window mass does, and those pairs are genuine
    // candidates). Roles canonicalize via least/greatest because the
    // lower-BUCKET doc must be the emitting leg regardless of id order;
    // the downstream distinct() absorbs the same/adjacent double match.
    // The boundary length (k+1)·q − 1 has EXACTLY k·q grams — still
    // vacuous-bound, still in the class.
    val short = docs.filter(col("ln") < lit((k + 1).toLong * q))
      .select(col("doc_id"), col("ln"), expr(s"ln div ${k + 1}").as("bkt"))
    val shortPairs = short
      .select(explode(array(col("bkt"), col("bkt") + 1)).as("bkt"),
        col("doc_id").as("ida"), col("ln").as("ln_a"))
      .join(short.select(col("bkt"), col("doc_id").as("idb"), col("ln").as("ln_b")), "bkt")
      .filter(col("ida") =!= col("idb") && abs(col("ln_a") - col("ln_b")) <= k)
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"))
    // Stage 2, the banded verify on ALL candidates (prefix ∪ fallback):
    // `levenshtein(a, b, k)` runs the 2k+1-diagonal-band DP with early
    // abandon and returns −1 past the threshold, so `d ≥ 0` IS the ≤ k
    // predicate and d the exact distance — identical output to a full-DP
    // filter at O(k·n) instead of O(n·m) per pair. The former Gravano
    // count filter (gram-array intersect ≥ max(m_a, m_b) − k·q between
    // the prefix join and a full-DP verify) is deliberately GONE: the
    // r15 stage profile read it at 5.2 s — two joins shipping a ~1.5k-long
    // gram array per side for every candidate — versus 0.37 s for the
    // banded DP over every candidate it would have pruned (see the class
    // scaladoc). Gramless micro-docs (< q chars) reach this verify
    // directly through the fallback union; nothing filters on gram
    // membership anymore, so no left-join resurrection is needed.
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    // distinct()'s output is a few MB of long pairs, so AQE coalesces it to
    // ONE post-shuffle task — and the banded-DP verify (the query's
    // per-pair CPU) ran serially in that stage (JobTrace r16: 1.3 s on one
    // core warm). One EXPLICIT pair-keyed exchange (an exact count survives
    // AQE) clusters the pairs, so the dedup aggregate AND the verify run in
    // place at full parallelism. Partial map-side dedup is forfeited — the
    // multiplicity is bounded by prefix length, and the pairs are bare
    // longs, so the extra shuffled bytes are noise next to the serialized
    // verify they replace.
    cand.unionAll(shortPairs)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), k).as("d"))
      .filter(col("d") >= 0)
      .select(col("doc_a"), col("doc_b"), col("d").cast("long").as("edit_distance"))
      .orderBy("doc_a", "doc_b")
  }

  /** Fixed SRP hyperplanes (seed 7): plane k is the k-th 64-dim gaussian
    * drawn, so configurations with different plane counts share a prefix —
    * the recall spec exploits this to compare 1×16 (single-code) against
    * 4×8 (banded) over the SAME first sixteen planes.
    */
  private[graft] def srpPlanes(n: Int): IndexedSeq[IndexedSeq[Double]] = {
    val rng = new scala.util.Random(7)
    IndexedSeq.fill(n)(IndexedSeq.fill(64)(rng.nextGaussian()))
  }

  /** Banded SRP sign codes for an embedding column: `numBands` structs of
    * (band, bucket) where bucket packs `planesPerBand` hyperplane sign bits.
    * Shared by [[dedupNearEmbedding]] (self-pair LSH) and
    * [[Modality.embedding]] (cross-table LSH, where the codes are
    * STORED with each admitted vector so loaded vectors are never
    * re-projected).
    */
  private[graft] def srpBandCodes(spark: SparkSession, emb: Column,
      numBands: Int = 4, planesPerBand: Int = 8): Column = {
    val planes = srpPlanes(numBands * planesPerBand)
    def bandCode(band: Int): Column = (0 until planesPerBand).map { h =>
      when(dot(spark, emb, typedlit(planes(band * planesPerBand + h))) > 0,
        lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    array((0 until numBands).map(b =>
      struct(lit(b).as("band"), bandCode(b).as("bucket"))): _*)
  }

  /** Embedding-cosine near-dup via BANDED signed-random-projection LSH,
    * mirroring the MinHash band structure: `numBands` bands of
    * `planesPerBand` hyperplane sign bits each; vectors sharing ANY band's
    * full code become a candidate pair, and only candidates get an exact
    * cosine check. Collision probability for angle θ is
    * 1-(1-(1-θ/π)^r)^b — the same S-curve as MinHash banding. A single
    * monolithic code (b=1) loses any near-dup pair that straddles even ONE
    * hyperplane; with b=4 bands the pair still collides in every band the
    * flipped plane doesn't touch (recall-spec-proven in OpsSpec). At
    * 100 TB: (band, code) is the shuffle key, candidate generation rides
    * the same capped [[bucketedPairs]] kernel as MinHash/SimHash — hot
    * buckets (e.g. a pile of zero vectors) star-link instead of going
    * quadratic, and bodies never cross-join.
    *
    * Pass `threshold = -1` to emit every bucket collision with its exact
    * cosine (candidate generation + scoring; the cut is downstream policy) —
    * the registered query does this because the fixture has no true
    * near-dups (max pairwise cosine ≈ 0.51), so any real threshold would
    * return an empty, undemonstrative result.
    */
  def dedupNearEmbedding(spark: SparkSession, dir: String, threshold: Double = 0.9,
      numBands: Int = 4, planesPerBand: Int = 8): DataFrame = {
    // Precompute each vector's norm once BEFORE the pair join: the per-pair
    // stage then runs a single dot-product loop instead of three (norms would
    // otherwise be recomputed for every pair a vector appears in).
    // Not persisted: three consumers, but each is a cheap parquet scan (+ one
    // dot for the norm) and a per-invocation persist would leak cache entries
    // across repeated bench runs.
    val coded = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2(spark, col("embedding")).as("norm"))
    // The banding branch pays numBands×planesPerBand 64-dim dots per row —
    // the query's dominant CPU — inside the embeddings scan, which is ONE
    // task at fixture scale (single file/row group). An explicit
    // repartition (exact counts survive AQE) spreads just this branch; the
    // exchange ships the raw vectors once, well under the dot-product work
    // it parallelizes (guide §2.6).
    val banded = coded.repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id").as("doc_id"),
        explode(srpBandCodes(spark, col("embedding"), numBands, planesPerBand)).as("bc"))
      .select(col("doc_id"), col("bc.band").as("band"), col("bc.bucket").as("bucket"))
    val a = coded.select(col("vec_id").as("doc_a"), col("embedding").as("emb_a"),
      col("norm").as("norm_a"))
    val b = coded.select(col("vec_id").as("doc_b"), col("embedding").as("emb_b"),
      col("norm").as("norm_b"))
    bucketedPairs(banded).join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
        (dot(spark, col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster embeddings with the spherical k-means the IVF family already
    * builds, form near-dup pairs ONLY within a cluster, connect pairs into
    * components, and keep ONE representative per component — the member with
    * the LOWEST cosine to its cluster centroid (the paper's keep-the-outlier
    * rule: the most atypical member carries the most information), ties by
    * vec_id. Differs from [[dedupNearEmbedding]] in the candidate generator:
    * k-means cells capture semantic neighborhoods deterministically (a tight
    * pile lands in ONE cell), where SRP banding is a probabilistic S-curve
    * over random hyperplanes — this is the dedup mode that removes
    * semantically redundant (not just byte-near) training data.
    *
    * Scale: (0, cell) is the shuffle key riding the same capped
    * [[bucketedPairs]] kernel (a hot cell star-links instead of going
    * quadratic), exact cosine runs for candidate pairs only, components form
    * by the O(log d) pointer-doubling propagation, and the centroids are a
    * k×64 broadcast parameter — no stage touches O(N²) and payload vectors
    * shuffle only for candidate ids.
    */
  /** The projected/checkpointed embedding table of [[dedupSemantic]] —
    * split out so [[graft.tools.StageProfile]] can time the stages the
    * production query runs (same instance rationale as the edit-distance
    * decomposition).
    */
  private[graft] def semanticEmb(spark: SparkSession, dir: String,
      k: Int = 10, iters: Int = 2): DataFrame = {
    val cents = kMeansCentroids(spark, dir, k, iters)
    // Materialized ONCE (localCheckpoint, not persist: blocks free with the
    // plan, no cache-manager entry to leak across bench runs): FOUR
    // consumers below (banding, both pair sides, the rollup join) would
    // otherwise each re-run the k×64-dot nearest-cell projection per row
    // (measured ~10% off the query: 4.57 → 4.14 s min-of-3 at sf0.1 under
    // load ≈ 2 — the remaining cost is the convergence-probed component
    // rounds, which are per-round job latency, not recomputation).
    // NOT repartitioned before the k×64-dot projection (r16 measured-and-
    // rejected): spreading the single-task embeddings scan to
    // defaultParallelism made the projection parallel but left the
    // CHECKPOINT 32 partitions wide, and all four consumers — including
    // every component-loop round over the derived pairs — inherited the
    // width (502 tasks, 2.8 s vs 2.0 s). The serial projection is the
    // cheaper side of that trade at any fixture scale; at real scale the
    // scan has natural splits and the question disappears.
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2(spark, col("embedding")).as("norm"))
      .withColumn("cell", nearestCell(spark, cents))
      .withColumn("cos_center", element_at(centroidCosArr(spark, cents), col("cell") + 1))
      .localCheckpoint()
  }

  /** The candidate-pair stage of [[dedupSemantic]] over a [[semanticEmb]]
    * table — split out for the same profiling reason. */
  private[graft] def semanticPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val banded = emb.select(col("vec_id").as("doc_id"),
      lit(0).as("band"), col("cell").as("bucket"))
    val a = emb.select(col("vec_id").as("doc_a"), col("embedding").as("emb_a"),
      col("norm").as("norm_a"))
    val b = emb.select(col("vec_id").as("doc_b"), col("embedding").as("emb_b"),
      col("norm").as("norm_b"))
    bucketedPairs(banded).join(a, "doc_a").join(b, "doc_b")
      .filter(dot(emb.sparkSession, col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")) >= threshold)
      .select("doc_a", "doc_b")
  }

  def dedupSemantic(spark: SparkSession, dir: String, threshold: Double = 0.45,
      k: Int = 10, iters: Int = 2): DataFrame = {
    val emb = semanticEmb(spark, dir, k, iters)
    val pairs = semanticPairs(emb, threshold)
    val labels = componentLabels(pairs).withColumnRenamed("doc_id", "vec_id")
    val scored = emb.join(labels, Seq("vec_id"), "left")
      .withColumn("cluster", coalesce(col("label"), col("vec_id")))
    val reps = scored.groupBy("cluster")
      .agg(min(struct(col("cos_center"), col("vec_id"))).as("m"))
      .select(col("cluster"), col("m.vec_id").as("rep_id"))
    scored.join(reps, "cluster")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("cluster"),
        (floor(col("cos_center") * 10000 + 0.5) / 10000).as("cos_center"),
        (col("vec_id") === col("rep_id")).as("is_kept"))
      .orderBy("vec_id")
  }

  /** SimHash (64-bit) fingerprint per document: per-token 64-bit hash votes
    * bitwise; near-dups differ in few bits. Computed by the native
    * [[graft.functions.SimHash64]] expression — one FNV hash per token and
    * 64 shift-votes, vs the previous 64-way unrolled HOF formulation that
    * re-hashed every token per bit position. At scale, group by fingerprint
    * prefix buckets for candidate generation.
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash(spark, col("text")).as("simhash"))
      .orderBy("doc_id")

  /** Content-defined rolling-hash fingerprint per document (the
    * substring-level dedup primitive — see [[graft.functions.RollingFingerprint]]):
    * anchor count plus an order-independent XOR digest of the anchor set.
    * Emitting (count, digest) keeps the query output scalar while the full
    * anchor array remains available to bucket-join exactly like shingle
    * hashes for containment detection.
    */
  def textRollingFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.RollingFingerprint.rollingFingerprint(spark, col("text")).as("anchors"))
      .select(col("doc_id"),
        size(col("anchors")).cast("long").as("n_anchors"),
        aggregate(col("anchors"), lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("digest"))
      .orderBy("doc_id")

  /** Containment detection over rolling-hash anchors: finds (a, b) pairs
    * where one document's content substantially appears INSIDE the other
    * (quotes, mirrors, boilerplate-wrapped copies) — the asymmetric relation
    * resemblance-based dedup (MinHash) misses by construction. The anchor is
    * the shuffle key: explode each doc's anchor set, drop STOP-ANCHORS
    * (shared by > maxDocsPerAnchor docs — ubiquitous boilerplate would
    * otherwise make one anchor's bucket quadratic, same hazard as hot LSH
    * buckets), self-join per anchor, count shared anchors per pair, and
    * score containment = shared / min(|A|, |B|). Only candidate pairs that
    * share at least one anchor are ever materialized.
    */
  def textContainment(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDocsPerAnchor: Int = 100): DataFrame = {
    // Memoized per (session, dir) like docTerms/minhashCandidates: the anchor
    // table is parameter-independent, and an un-memoized per-invocation
    // persist leaked one MEMORY_AND_DISK entry per call (Bench invokes every
    // query twice per sweep).
    val anchors = graft.Tables.memo(spark, dir, "anchors") {
      t(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.RollingFingerprint.rollingFingerprint(spark, col("text")).as("as"))
        .filter(size(col("as")) > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val counts = anchors.select(col("doc_id"), size(col("as")).as("n"))
    val exploded = anchors.select(col("doc_id"), explode(col("as")).as("anchor"))
    val keep = exploded.groupBy("anchor")
      .agg(count(lit(1)).as("docs"))
      .filter(col("docs") <= maxDocsPerAnchor)
      .select("anchor")
    val pruned = exploded.join(keep, "anchor")
    val shared = pruned.as("x").join(pruned.as("y"), Seq("anchor"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("shared") / least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- similarity

  // Native codegen'd dot product ([[graft.functions.DotProduct]]): the HOF
  // form (aggregate ∘ zip_with) evaluates interpreted per element and was the
  // hotspot of every similarity operator. Same semantics, same left-fold
  // accumulation order — bit-identical doubles.
  /** k-NN JOIN: every probe vector gets its k nearest corpus neighbors by
    * cosine — the batch form of similarity search (link a query set to a
    * corpus), vs [[simTopkCosine]]'s single probe. The probe side is small
    * by nature (a query/eval set), so it broadcasts: the corpus scans ONCE,
    * scoring each row against all probes partition-locally with the
    * codegen'd `graft_dot`, and never shuffles its vectors. Per-probe top-k
    * is `row_number` over (probe) ordered by cosine — Spark's
    * WindowGroupLimit pushes the `rk <= k` bound below the exchange, so each
    * partition ships only its local top-k candidates per probe
    * (plan-asserted in PlanShapeSpec for this window+filter shape): the
    * shuffle is O(partitions · probes · k), independent of corpus size. For
    * a probe side too big to broadcast, compose with the IVF cell prune
    * ([[simTopkIvf]]) instead of the broadcast.
    */
  def simKnnJoin(spark: SparkSession, dir: String, k: Int = 3, nProbes: Int = 20): DataFrame = {
    val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val cos = dot(spark, col("embedding"), col("pvec")) /
      (l2(spark, col("embedding")) * l2(spark, col("pvec")))
    val scored = emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), cos.as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("probe_id", "rk")
  }

  /** k-NN join for probe sets TOO LARGE to broadcast: both sides shuffle on
    * the k-means cell key instead. Each corpus vector goes to its single
    * nearest cell ([[nearestCell]] — a per-row expression); each probe
    * explodes to its `nProbeCells` nearest cells (the only Generate, on the
    * small side, ≤ nProbeCells rows per probe). The cell-keyed inner join
    * then scores cosine only within cells — the shuffle moves each side
    * once, keyed by cell, and no O(probes × corpus) product ever forms.
    * Per-probe top-k is the same WindowGroupLimit shape as the broadcast
    * path. At `nProbeCells` = all cells the result EQUALS the broadcast
    * path's (every corpus vector is in some probed cell — spec-pinned);
    * smaller values trade recall for a ~cells/nProbeCells smaller join, the
    * standard IVF knob.
    *
    * `corpusRepl` is the complementary IVF assignment knob for BOUNDARY
    * effects: with single assignment a true neighbor sitting just across a
    * cell boundary is invisible to a probe that doesn't reach its cell. At
    * r > 1 each corpus vector is stored in its r nearest cells (an explode
    * on the corpus side, multiplying the index by ~r — the standard
    * replication trade), so a boundary neighbor also appears in the probe's
    * own cell; duplicate (probe, neighbor) matches from shared cells are
    * collapsed before top-k.
    */
  def simKnnJoinCells(spark: SparkSession, dir: String, k: Int = 3, nProbes: Int = 20,
      kCells: Int = 10, iters: Int = 2, nProbeCells: Int = 3,
      corpusRepl: Int = 1): DataFrame = {
    val cents = kMeansCentroids(spark, dir, kCells, iters)
    val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // Nearest-cell ranking for an arbitrary vector column: sort (negated
    // score, cell) structs ascending — i.e. score descending, ties to the
    // lower cell — and keep the first n.
    def nearestCells(v: Column, n: Int): Column = {
      val scoredCells = cents.zipWithIndex.map { case (c, i) =>
        val norm = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
        struct((-dot(spark, v, typedlit(c)) / norm).as("negs"), lit(i).as("cell"))
      }
      slice(array_sort(array(scoredCells: _*)), 1, n)
    }
    val corpus =
      if (corpusRepl <= 1) emb.withColumn("cell", nearestCell(spark, cents))
      else emb
        .select(col("vec_id"), col("embedding"),
          explode(nearestCells(col("embedding"), corpusRepl)).as("cc"))
        .select(col("vec_id"), col("embedding"), col("cc.cell").as("cell"))
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      .select(col("probe_id"), col("pvec"),
        explode(nearestCells(col("pvec"), nProbeCells)).as("pc"))
      .select(col("probe_id"), col("pvec"), col("pc.cell").as("cell"))
    val cos = dot(spark, col("embedding"), col("pvec")) /
      (l2(spark, col("embedding")) * l2(spark, col("pvec")))
    val scored0 = corpus.join(probes, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), cos.as("cosine"))
    // A replicated corpus vector can meet the same probe through every
    // shared cell — collapse to one match per pair before ranking (the
    // cosine is pair-determined, so distinct is exact).
    val scored = if (corpusRepl <= 1) scored0 else scored0.distinct()
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("probe_id", "rk")
  }

  private def dot(spark: SparkSession, a: Column, b: Column): Column =
    graft.functions.VectorOps.dot(spark, a, b)

  private def l2(spark: SparkSession, a: Column): Column =
    graft.functions.VectorOps.l2(spark, a)

  /** Brute-force cosine top-k against a probe vector (vec_id = 0): one scan,
    * per-row HOF dot product, TakeOrderedAndProject top-k — per-partition
    * heaps, no global sort. At 100 TB the documented scale path is
    * [[simTopkIvf]]: prune to nearest coarse buckets first.
    */
  def simTopkCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val p = typedlit(probe)
    emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        (dot(spark, col("embedding"), p) / (l2(spark, col("embedding")) * l2(spark, p))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  /** Nearest k-means cell for the current row's `embedding`: argmax over
    * cells of dot(e, c_j)/‖c_j‖ (the row norm ‖e‖ is a common factor, so
    * this IS the cosine argmax — spherical k-means assignment). Built as an
    * `array_max` over (score, cell) structs: struct ordering compares score
    * first, ties break to the higher cell index — deterministic, and pure
    * codegen-able expressions, no Generate, no UDF.
    */
  private def nearestCell(spark: SparkSession, cents: Seq[Seq[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val norm = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
      struct((dot(spark, col("embedding"), typedlit(c)) / norm).as("s"),
        lit(i).as("cell"))
    }
    array_max(array(scored: _*)).getField("cell")
  }

  /** Minimum spherical distance (1 − cosine) between two accepted k-means
    * seeds: near-identical candidates (re-delivered or copied vectors
    * adjacent in id order) are skipped so no two cells start on the same
    * point. Well below any genuine cluster separation, far above
    * float-precision noise.
    */
  val MinSeedSeparation = 1e-4

  /** cos(row, centroid_i) for every centroid, as an array column — callers
    * `element_at(..., cell + 1)` to get the row's cosine to its OWN
    * centroid. Expects `embedding` and a precomputed `norm` column.
    */
  private def centroidCosArr(spark: SparkSession, cents: Seq[Seq[Double]]): Column =
    array(cents.map { c =>
      val cn = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
      dot(spark, col("embedding"), typedlit(c)) / (lit(cn) * col("norm"))
    }: _*)

  /** Per-cell maximum member angle to its own centroid — IVF index METADATA
    * (at scale it is computed once at index build, exactly like the
    * centroid matrix; here it memoizes per (session, dir, k, iters) under
    * the same [[graft.Tables.memo]] immutability contract). One
    * k-row driver fetch; the aggregate itself is a single map-side-combined
    * pass over the corpus.
    */
  private[graft] def cellThetaMax(spark: SparkSession, dir: String,
      k: Int, iters: Int): Map[Int, Double] =
    graft.Tables.memo(spark, dir, s"thmax_${k}_$iters") {
      val cents = kMeansCentroids(spark, dir, k, iters)
      t(spark, dir, "embeddings")
        .select(col("embedding"), l2(spark, col("embedding")).as("norm"))
        .withColumn("cell", nearestCell(spark, cents))
        .withColumn("cos_center", element_at(centroidCosArr(spark, cents), col("cell") + 1))
        .groupBy("cell")
        .agg(max(acos(least(lit(1.0), greatest(lit(-1.0), col("cos_center"))))).as("th"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }

  /** Cells that can possibly hold a vector within `radius` of the probe:
    * spherical triangle inequality gives angle(q, x) ≥ angle(q, c) −
    * θ_max(c) for any member x of cell c, so a cell fails only if even its
    * best-possible member misses the radius. The 1e-9 slack keeps the bound
    * sound under float rounding; an empty cell (no θ_max row) always
    * prunes. Exposed private[graft] so the spec can assert real pruning.
    */
  private[graft] def rangeKeptCells(spark: SparkSession, dir: String, tau: Double,
      k: Int, iters: Int, probe: Seq[Double]): Seq[Int] = {
    val cents = kMeansCentroids(spark, dir, k, iters)
    val thMax = cellThetaMax(spark, dir, k, iters)
    def clamp(x: Double) = math.min(1.0, math.max(-1.0, x))
    val qn = math.max(math.sqrt(probe.map(x => x * x).sum), 1e-12)
    val radius = math.acos(clamp(tau))
    cents.indices.filter { i =>
      val c = cents(i)
      val cn = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
      val qAngle = math.acos(clamp(c.lazyZip(probe).map(_ * _).sum / (cn * qn)))
      qAngle - thMax.getOrElse(i, Double.NegativeInfinity) <= radius + 1e-9
    }
  }

  /** Exact RADIUS (range) similarity search with sound IVF cell pruning:
    * every corpus vector with cosine ≥ tau to the probe — the "find all
    * near-duplicates / all contaminated shards of this document" shape,
    * where top-k truncates. Unlike the top-k family's probabilistic nProbe
    * cut, the prune is LOSSLESS ([[rangeKeptCells]]'s triangle-inequality
    * bound), so the result is bit-identical to brute force while scanning
    * only cells that can qualify — spec-pinned both ways (equality on the
    * fixture; real pruning on tight synthetic piles). Plan is the
    * simTopkIvf shape minus TakeOrdered: scan + cell expression + isin +
    * exact cosine filter; no join, no Generate. Driver traffic: the probe
    * fetch + two k-sized parameter fetches (centroids, θ_max), both
    * index-build artifacts at scale.
    */
  def simRangeSearch(spark: SparkSession, dir: String, tau: Double = 0.3,
      k: Int = 10, iters: Int = 2): DataFrame = {
    val cents = kMeansCentroids(spark, dir, k, iters)
    val emb = t(spark, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val keep = rangeKeptCells(spark, dir, tau, k, iters, probe.map(_.toDouble))
    val p = typedlit(probe)
    emb.filter(col("vec_id") =!= 0)
      .withColumn("cell", nearestCell(spark, cents))
      .filter(col("cell").isin(keep: _*))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        (dot(spark, col("embedding"), p) / (l2(spark, col("embedding")) * l2(spark, p))).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998): the
    * diversified top-k every retrieval-augmented data-selection pipeline
    * runs — pure cosine top-k returns k copies of the same neighborhood,
    * MMR greedily picks argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s), trading
    * relevance against redundancy with what is already selected.
    *
    * Two-stage shape, and the split IS the scale story: the SHORTLIST (top
    * [[MmrShortlist]] by cosine to the probe) is the distributed pass —
    * TakeOrderedAndProject over all N vectors, each partition shipping only
    * its local top-M — while the greedy diversification runs driver-local
    * on the M×M micro-cosine matrix. Greedy MMR is inherently sequential
    * (pick i depends on picks 1..i−1), but its working set is the CONSTANT
    * M×(dim+1) shortlist — a parameter fetch by the repo's own rule (same
    * order as the 4k-vector k-means seed sample), identical at sf0.001 and
    * 100 TB. Distributing those k·M score updates would buy nothing but
    * per-round job latency ([[graft.ops.Analytics.textBpeMerges]] is the
    * same verdict for its 1-row argmax rounds).
    *
    * Determinism: relevance and pairwise cosines round to integer micros
    * BEFORE the λ-combination, which is pure int64
    * ((λ%·rel − (100−λ%)·maxsim) div 100), ties by vec_id — bit-stable
    * under any partitioning. No SQL oracle: float cosine folds are
    * engine-specific (same reasoning as the rest of the sim family);
    * pinned instead against a plain-Scala whole-corpus greedy reference
    * and a constructed redundancy fixture in OpsSpec.
    */
  val MmrShortlist = 64

  def simMmrSelect(spark: SparkSession, dir: String, k: Int = 5,
      m: Int = MmrShortlist, lambdaPct: Int = 70): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    val p = typedlit(probe.map(_.toFloat).toSeq)
    // Distributed shortlist: cosine to the probe, top-M overall. This is
    // the only stage that touches all N rows.
    val short = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (dot(spark, col("embedding"), p) / (l2(spark, col("embedding")) * l2(spark, p))).as("cosine"),
        col("embedding"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(m)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cosMicro(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1000000 + 0.5).toLong
    }
    val relMicro = short.map { case (_, c, _) => math.floor(c * 1000000 + 0.5).toLong }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)] // (idx, score)
    val chosen = scala.collection.mutable.Set.empty[Int]
    for (_ <- 1 to math.min(k, short.length)) {
      var bestIdx = -1; var bestScore = Long.MinValue
      for (i <- short.indices if !chosen(i)) {
        val maxSim = if (selected.isEmpty) 0L
          else selected.map(s => cosMicro(short(i)._3, short(s._1)._3)).max
        val score = Math.floorDiv(lambdaPct * relMicro(i) - (100 - lambdaPct) * maxSim, 100L)
        if (score > bestScore ||
            (score == bestScore && bestIdx >= 0 && short(i)._1 < short(bestIdx)._1)) {
          bestIdx = i; bestScore = score
        }
      }
      chosen += bestIdx
      selected += ((bestIdx, bestScore))
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((i, score), rank) => (rank.toLong, short(i)._1, relMicro(i), score) }
      .toDF("rank", "vec_id", "rel_micro", "mmr_micro")
  }

  /** Coarse IVF centroids by Lloyd's k-means (spherical assignment, mean
    * update). Seeding is deterministic ε-SEPARATED greedy over the 4k
    * lowest-vec_id vectors (one TakeOrdered, stable under any
    * partitioning): walk the candidate prefix in id order and accept a
    * vector only if its spherical distance to every accepted seed exceeds
    * [[MinSeedSeparation]], back-filling from the skipped prefix if the
    * corpus is too degenerate to yield k separated seeds. This fixes the
    * round-4 defect — plain lowest-id seeding collapses cells when
    * adjacent ids carry near-identical vectors (a real ingest order:
    * boilerplate arrives in runs), leaving duplicated centroids that Lloyd
    * cannot separate — while leaving a well-mixed corpus's seeds (and the
    * pinned fixture recall) unchanged. Two spread-seeking alternatives
    * were built and MEASURED at the pinned operating point (k=10, 2
    * iterations, nProbe=3) before settling here: pure farthest-point
    * refinement captures outliers as singleton seeds (recall@5 fell 5/5 →
    * 1/5), and hash-derandomized k-means++ D²-weighting did no better
    * (1/5) — at 2 Lloyd iterations seeds ARE the index, and data-point
    * seeds in dense regions beat well-spread ones. Driver traffic stays a
    * bounded parameter fetch (4k×64, same order as the k×64 matrix it
    * already ships).
    *
    * Each Lloyd iteration is ONE distributed aggregate — nearest-cell
    * assignment is a per-row expression, the mean update is the typed
    * [[graft.udf.VectorMean]] Aggregator (map-side combined; the posexplode
    * formulation would multiply the shuffle by the dimensionality). Only
    * the k×64 centroid matrix ever reaches the driver — a parameter fetch
    * per iteration, the same contract as the probe-vector fetch. A cell
    * that goes empty keeps its previous centroid. Memoized per (session,
    * dir, k, iters): the index builds once and every query reuses it — the
    * IVF production shape. The memo obeys [[graft.Tables.memo]]'s
    * immutability contract: a mutated embeddings dir serves the OLD index
    * until [[graft.Tables.invalidate]](spark, dir) (or a fresh session).
    */
  private[graft] def kMeansCentroids(spark: SparkSession, dir: String,
      k: Int, iters: Int): Seq[Seq[Double]] =
    graft.Tables.memo(spark, dir, s"kmeans_${k}_$iters") {
      val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val sample: Seq[Seq[Double]] = emb
        .orderBy("vec_id").limit(4 * k)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      def sphericalDist(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.lazyZip(b).map(_ * _).sum
        val na = math.max(math.sqrt(a.map(x => x * x).sum), 1e-12)
        val nb = math.max(math.sqrt(b.map(x => x * x).sum), 1e-12)
        1.0 - d / (na * nb)
      }
      val accepted = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      val skipped = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      for (v <- sample if accepted.size < k)
        if (accepted.forall(c => sphericalDist(v, c) > MinSeedSeparation)) accepted += v
        else skipped += v
      var cents: Seq[Seq[Double]] =
        (accepted ++ skipped.take(k - accepted.size)).toSeq
      val vecMean = udaf(graft.udf.VectorMean)
      for (_ <- 0 until iters) {
        val updated = emb
          .groupBy(nearestCell(spark, cents).as("cell"))
          .agg(vecMean(col("embedding")).as("centroid"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
      }
      cents
    }

  /** IVF-style pruned search over real k-means cells: the probe searches
    * only the nProbe nearest centroids' cells. The candidate set shrinks by
    * ~cells/nProbe — the standard ANN recall/latency trade. Exact re-rank
    * inside cells; plan is one scan + per-row cell expression + isin filter
    * + TakeOrderedAndProject — no join, no Generate (plan-asserted).
    */
  def simTopkIvf(spark: SparkSession, dir: String, nProbe: Int = 3,
      k: Int = 10, iters: Int = 2): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val p = typedlit(probe)
    val cents = kMeansCentroids(spark, dir, k, iters)
    // Probe-to-centroid ranking is k tiny dot products — driver-side over
    // the already-fetched centroid matrix, not a Spark job.
    val pv = probe.map(_.toDouble)
    def cosTo(c: Seq[Double]): Double = {
      val d = c.zip(pv).map { case (x, y) => x * y }.sum
      d / (math.max(math.sqrt(c.map(x => x * x).sum), 1e-12) *
        math.sqrt(pv.map(x => x * x).sum))
    }
    val nearCells = cents.zipWithIndex
      .map { case (c, i) => (i, cosTo(c)) }
      .sortBy { case (i, s) => (-s, i) }.take(nProbe).map(_._1)
    emb.withColumn("cell", nearestCell(spark, cents))
      .filter(col("cell").isin(nearCells: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        (dot(spark, col("embedding"), p) / (l2(spark, col("embedding")) * l2(spark, p))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  /** Dedup-estimator evaluation: precision/recall of the MinHash layer
    * (banded LSH candidates + signature-estimated Jaccard ≥ τ) against the
    * EXACT threshold-join truth ([[dedupJaccardPrefix]], whose prefix
    * filter is lossless) — both measure the SAME word-3-shingle Jaccard,
    * so this is the estimator-calibration readout (the dedup analog of
    * [[simRecallCurve]]): how much the probabilistic layer misses (LSH
    * band misses + signature noise) and how much junk it admits, as data.
    *
    * Scale: one equi-join of two pair tables keyed on the pair itself +
    * three counts; both inputs are the memoized kernels.
    */
  def dedupEval(spark: SparkSession, dir: String,
      thresholdMicro: Long = 800000L): DataFrame = {
    import spark.implicits._
    val truth = dedupJaccardPrefix(spark, dir, thresholdMicro)
      .select("doc_a", "doc_b")
    val pred = dedupNearMinhash(spark, dir)
      .filter(col("est_jaccard") >= thresholdMicro.toDouble / 1000000.0)
      .select("doc_a", "doc_b")
    // ONE action for all three counts (r16, guide §5 — was three serial
    // driver-blocking jobs): a full outer join on the pair key tallies
    // truth rows, pred rows and hits in a single aggregate. Pair-count
    // algebra is unchanged because both inputs are DISTINCT pair lists
    // (the prefix join emits each qualifying pair once; the MinHash
    // candidates are banded-distinct), so outer-join multiplicity is 1.
    val m = truth.withColumn("t", lit(1))
      .join(pred.withColumn("p", lit(1)), Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("t")).as("nt"), count(col("p")).as("np"),
        count(when(col("t").isNotNull && col("p").isNotNull, 1)).as("nh"))
      .head()
    val (nTruth, nPred, nHit) = (m.getLong(0), m.getLong(1), m.getLong(2))
    Seq((nTruth, nPred, nHit,
        nHit * 1000000L / math.max(nTruth, 1L),
        nHit * 1000000L / math.max(nPred, 1L)))
      .toDF("n_truth", "n_pred", "n_hit", "recall_micro", "precision_micro")
  }

  /** The ANN tuning curve: recall@5 of [[simTopkIvf]] against the
    * brute-force truth ([[simTopkCosine]]) as nProbe sweeps 1 → all cells —
    * the recall/latency trade every IVF deployment tunes before choosing
    * its operating point, emitted as data instead of folklore. At
    * nProbe = cells the pruned search scans everything, so the curve's top
    * point must hit recall 1.0 EXACTLY — a built-in correctness anchor the
    * pinning spec asserts along with monotonicity.
    *
    * Scale: four pruned top-5 jobs plus one brute-force pass; driver state
    * is four 5-id sets — bounded parameter traffic like every sim-family
    * probe fetch.
    */
  def simRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The brute-force truth and the four pruned probes are five mutually
    // independent collect() actions (12 serial jobs measured); submit them
    // concurrently (guide §2.6). The memoized centroid build still runs
    // once — the first probe's memo build blocks the other three on
    // the same key — and each probe's result set is position-matched back
    // to its nProbe, so the emitted curve is unchanged.
    val probeNs = Seq(1, 2, 4, 10)
    val results = graft.Tables.inParallel(
      (() => simTopkCosine(spark, dir)
          .select("vec_id").collect().map(_.getLong(0)).toSet) +:
      probeNs.map(np => () => simTopkIvf(spark, dir, nProbe = np)
          .select("vec_id").collect().map(_.getLong(0)).toSet): _*)
    val brute = results.head
    probeNs.zip(results.tail).map { case (np, got) =>
      val hits = got.intersect(brute).size.toLong
      (np.toLong, hits, hits * 1000000L / brute.size)
    }.toDF("nprobe", "hits", "recall_micro").orderBy("nprobe")
  }

  // ---------------------------------------------------------------- stored IVF index

  /** Persist the IVF index to `outDir`: `centroids/` (cell → centroid
    * vector, the k×64 parameter matrix) and `vectors/` — the corpus
    * CELL-PARTITIONED on disk (`partitionBy("cell")`), one directory per
    * Voronoi cell. The layout IS the index: a probe reads centroids (a
    * bounded parameter fetch), ranks cells driver-side, and scans ONLY the
    * nProbe matching partition directories via static partition pruning —
    * at 100 TB the search touches nProbe/k of the corpus before any row is
    * decoded, the on-disk analogue of the in-memory cell filter. This is
    * the production ANN shape: the index builds once (one job), persists,
    * and EVERY later session searches it without re-clustering — the same
    * sidecar discipline as the incremental-dedup index tables.
    */
  def saveIvfIndex(spark: SparkSession, dir: String, outDir: String,
      k: Int = 10, iters: Int = 2): Unit = {
    val cents = kMeansCentroids(spark, dir, k, iters)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    t(spark, dir, "embeddings")
      .withColumn("cell", nearestCell(spark, cents))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$outDir/vectors")
  }

  private[graft] def ivfStoreDir(spark: SparkSession, dir: String): String =
    graft.Tables.memo(spark, dir, "ivf-store") {
      val out = graft.sources.FileFormats.exitCleanedTempDir("graft-ivfstore")
      saveIvfIndex(spark, dir, out)
      out
    }

  /** IVF search over the PERSISTED index: centroids load as a k×64
    * parameter fetch, the probe ranks cells driver-side exactly as
    * [[simTopkIvf]] does, and the vector scan carries `cell IN (...)` as a
    * static PartitionFilter — only the probed cell directories are listed
    * or read (spec-pinned, and pinned equal to the in-memory search row
    * for row: same centroids → same candidates → same exact re-rank).
    */
  def simTopkIvfStored(spark: SparkSession, dir: String, nProbe: Int = 3): DataFrame = {
    val store = ivfStoreDir(spark, dir)
    val cents: Seq[Seq[Double]] = spark.read.parquet(s"$store/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val probe = t(spark, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val p = typedlit(probe)
    val pv = probe.map(_.toDouble)
    def cosTo(c: Seq[Double]): Double = {
      val d = c.zip(pv).map { case (x, y) => x * y }.sum
      d / (math.max(math.sqrt(c.map(x => x * x).sum), 1e-12) *
        math.sqrt(pv.map(x => x * x).sum))
    }
    val nearCells = cents.zipWithIndex
      .map { case (c, i) => (i, cosTo(c)) }
      .sortBy { case (i, s) => (-s, i) }.take(nProbe).map(_._1)
    spark.read.parquet(s"$store/vectors")
      .filter(col("cell").isin(nearCells: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        (dot(spark, col("embedding"), p) / (l2(spark, col("embedding")) * l2(spark, p))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  // ---------------------------------------------------------------- product quantization

  /** PQ geometry: M subspaces × ksub centroids over the 64-dim embeddings.
    * 8×16 codes pack a vector into 8 nibbles — a 64-byte float32 payload
    * compresses 64× (256 B → 4 B), the storage arithmetic that makes
    * billion-vector ANN fit a cluster's SSDs.
    */
  val PqSubspaces = 8
  val PqCodebookSize = 16

  /** Nearest sub-centroid (L2, on unit-normalized inputs) for subspace `j`
    * of the row's normalized embedding slice, as a pure codegen expression:
    * argmin ‖s−c‖² ≡ argmax (dot(s,c) − ‖c‖²/2), built like [[nearestCell]]
    * as an `array_max` over (score, idx) structs — ties to the higher index,
    * deterministic, no UDF.
    */
  private def nearestSubCentroid(spark: SparkSession, sub: Column,
      cents: Seq[Seq[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val half = c.map(x => x * x).sum / 2.0
      struct((dot(spark, sub, typedlit(c)) - lit(half)).as("s"), lit(i).as("idx"))
    }
    array_max(array(scored: _*)).getField("idx")
  }

  /** Per-subspace PQ codebooks + the encoded CODES table, memoized per
    * (session, dir). Training follows the Faiss production recipe: fit the
    * codebooks on a BOUNDED sample driver-side (512 lowest-vec_id vectors —
    * a parameter fetch of the same order as [[kMeansCentroids]]' 4k-seed
    * prefix; PQ codebooks are always sample-trained, exhaustive training
    * buys nothing), then ENCODE distributed — one scan, M pure-expression
    * argmins per row, persisted as the narrow (vec_id, codes) table every
    * later probe reuses. Vectors are unit-normalized before the subspace
    * split so subspace dot products sum to the full cosine. Lloyd runs L2
    * with ε-separated deterministic seeding (the [[MinSeedSeparation]]
    * discipline); an empty cell keeps its previous centroid. The memo obeys
    * [[graft.Tables.memo]]'s immutability contract.
    */
  private[graft] def pqIndex(spark: SparkSession, dir: String,
      iters: Int = 5): (Seq[Seq[Seq[Double]]], DataFrame) =
    graft.Tables.memo(spark, dir, s"pq_$iters") {
      val dsub = 64 / PqSubspaces
      val sample: Seq[Seq[Double]] = t(spark, dir, "embeddings")
        .orderBy("vec_id").limit(512)
        .select(col("embedding")).collect()
        .map { r =>
          val v = r.getSeq[Float](0).map(_.toDouble)
          val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-12)
          v.map(_ / n).toSeq
        }.toSeq
      def lloydSub(j: Int): Seq[Seq[Double]] = {
        val subs = sample.map(_.slice(j * dsub, (j + 1) * dsub))
        def d2(a: Seq[Double], b: Seq[Double]): Double =
          a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum
        val accepted = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
        val skipped = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
        for (v <- subs if accepted.size < PqCodebookSize)
          if (accepted.forall(c => d2(v, c) > MinSeedSeparation)) accepted += v
          else skipped += v
        var cents = (accepted ++ skipped.take(PqCodebookSize - accepted.size)).toSeq
        for (_ <- 0 until iters) {
          // argmin d² with ties to the HIGHER index — the exact mirror of
          // nearestSubCentroid's array_max struct ordering, so driver
          // training and distributed encoding agree on every boundary.
          val assign = subs.map(s =>
            cents.indices.map(i => (-d2(s, cents(i)), i)).max._2)
          cents = cents.indices.map { i =>
            val mine = subs.lazyZip(assign).collect { case (s, a) if a == i => s }
            if (mine.isEmpty) cents(i)
            else mine.transpose.map(_.sum / mine.size).toSeq
          }
        }
        cents
      }
      val codebooks: Seq[Seq[Seq[Double]]] = (0 until PqSubspaces).map(lloydSub)
      val codes = t(spark, dir, "embeddings")
        .withColumn("nrm", greatest(l2(spark, col("embedding")), lit(1e-12)))
        .select(col("vec_id"), codesColumn(spark, codebooks).as("codes"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (codebooks, codes)
    }

  /** The 8-nibble PQ code array for the current row's `embedding` (requires
    * a sibling `nrm` column) — one [[nearestSubCentroid]] argmin per
    * subspace, all pure codegen expressions. Shared by the flat PQ index
    * and the IVF-PQ cell-partitioned index so driver training and every
    * encoder agree bit-for-bit.
    */
  private def codesColumn(spark: SparkSession, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = 64 / PqSubspaces
    val codeCols = (0 until PqSubspaces).map { j =>
      val sub = transform(slice(col("embedding"), j * dsub + 1, dsub), x => x / col("nrm"))
      nearestSubCentroid(spark, sub, codebooks(j))
    }
    array(codeCols: _*)
  }

  /** PQ asymmetric-distance top-k: score candidates from their 8-nibble
    * CODES against a per-probe lookup table (LUT[j][c] = dot(probe_j,
    * centroid_jc), built driver-side from the already-fetched codebooks —
    * M×ksub tiny dots), shortlist the best `shortlist` by approximate
    * cosine, and exactly re-rank ONLY the shortlist against the full
    * vectors. This is the billion-scale ANN storage architecture: the hot
    * scan touches a 4-byte-per-vector table — never the embeddings — and
    * full vectors are fetched for `shortlist` rows, not the corpus.
    *
    * Scale: codes scan + per-row LUT sum (pure expressions) +
    * TakeOrderedAndProject shortlist (per-partition heaps); the re-rank
    * joins the ≤`shortlist`-row id set BROADCAST against the embeddings —
    * a pruned point-lookup join, no embedding shuffle anywhere.
    */
  def simTopkPq(spark: SparkSession, dir: String, shortlist: Int = 50): DataFrame = {
    val dsub = 64 / PqSubspaces
    val emb = t(spark, dir, "embeddings")
    val probeF = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val probe = probeF.map(_.toDouble)
    val pn = math.max(math.sqrt(probe.map(x => x * x).sum), 1e-12)
    val pv = probe.map(_ / pn)
    val (codebooks, codes) = pqIndex(spark, dir)
    val lut: Seq[Seq[Double]] = (0 until PqSubspaces).map { j =>
      val pj = pv.slice(j * dsub, (j + 1) * dsub)
      codebooks(j).map(c => c.lazyZip(pj).map(_ * _).sum)
    }
    val approx = (0 until PqSubspaces).map { j =>
      element_at(typedlit(lut(j)), col("codes").getItem(j) + 1)
    }.reduce(_ + _)
    val short = codes.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), approx.as("approx_cosine"))
      .orderBy(col("approx_cosine").desc, col("vec_id"))
      .limit(shortlist)
    val p = typedlit(probeF)
    emb.join(broadcast(short), "vec_id")
      .select(col("vec_id"), col("label"),
        (dot(spark, col("embedding"), p) /
          (l2(spark, col("embedding")) * l2(spark, p))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  /** The IVF-PQ combined index table (vec_id, cell, codes): coarse k-means
    * cell + 8-nibble PQ code per vector, built in ONE scan of the
    * embeddings and memoized per (session, dir, k, iters). This is the
    * Faiss `IVFPQ` storage layout — at 100 TB the table is WRITTEN
    * partitioned by `cell`, so a probe's `cell IN (...)` prune becomes
    * static partition pruning and the shortlist scan reads nProbe/k of the
    * files, each row 4 B of codes instead of 256 B of floats (a combined
    * ~64×(k/nProbe) reduction in scanned bytes vs brute force). Codes
    * encode the raw normalized vector (inner-product PQ); encoding the
    * per-cell RESIDUAL instead would tighten quantization error at the
    * cost of k codebook trainings — noted as the upgrade path, not needed
    * at the pinned recall. Memo obeys [[graft.Tables.memo]]'s
    * immutability contract.
    */
  private[graft] def ivfPqIndex(spark: SparkSession, dir: String,
      k: Int = 10, iters: Int = 2): DataFrame =
    graft.Tables.memo(spark, dir, s"ivfpq_${k}_$iters") {
      val cents = kMeansCentroids(spark, dir, k, iters)
      val (codebooks, _) = pqIndex(spark, dir)
      t(spark, dir, "embeddings")
        .withColumn("nrm", greatest(l2(spark, col("embedding")), lit(1e-12)))
        .select(col("vec_id"), nearestCell(spark, cents).as("cell"),
          codesColumn(spark, codebooks).as("codes"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** IVF-PQ top-k: the two ANN reductions COMPOSED, the way a
    * billion-vector index actually serves — IVF prunes WHICH vectors are
    * scored (nProbe of k cells), PQ prunes WHAT is read per vector (4 B of
    * codes, ADC-scored against a driver-built LUT), and only the
    * `shortlist` survivors fetch their full vectors for the exact re-rank.
    *
    * Scale: one narrow scan of the cell-pruned codes partition + per-row
    * LUT sum + TakeOrderedAndProject (per-partition heaps); the re-rank is
    * a broadcast point-lookup join on ≤`shortlist` ids — the embeddings
    * table is never shuffled and never scanned beyond the re-rank lookups.
    * Driver traffic stays bounded parameter fetches: probe vector, k×64
    * centroids, M×ksub LUT.
    */
  def simTopkIvfPq(spark: SparkSession, dir: String, nProbe: Int = 3,
      shortlist: Int = 50, k: Int = 10, iters: Int = 2): DataFrame = {
    val dsub = 64 / PqSubspaces
    val emb = t(spark, dir, "embeddings")
    val probeF = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val probe = probeF.map(_.toDouble)
    // Probe-to-centroid ranking: k tiny dots over the already-fetched
    // centroid matrix — driver-side arithmetic, not a Spark job.
    val cents = kMeansCentroids(spark, dir, k, iters)
    def cosTo(c: Seq[Double]): Double = {
      val d = c.zip(probe).map { case (x, y) => x * y }.sum
      d / (math.max(math.sqrt(c.map(x => x * x).sum), 1e-12) *
        math.max(math.sqrt(probe.map(x => x * x).sum), 1e-12))
    }
    val nearCells = cents.zipWithIndex
      .map { case (c, i) => (i, cosTo(c)) }
      .sortBy { case (i, s) => (-s, i) }.take(nProbe).map(_._1)
    val (codebooks, _) = pqIndex(spark, dir)
    val pn = math.max(math.sqrt(probe.map(x => x * x).sum), 1e-12)
    val pv = probe.map(_ / pn)
    val lut: Seq[Seq[Double]] = (0 until PqSubspaces).map { j =>
      val pj = pv.slice(j * dsub, (j + 1) * dsub)
      codebooks(j).map(c => c.lazyZip(pj).map(_ * _).sum)
    }
    val approx = (0 until PqSubspaces).map { j =>
      element_at(typedlit(lut(j)), col("codes").getItem(j) + 1)
    }.reduce(_ + _)
    val short = ivfPqIndex(spark, dir, k, iters)
      .filter(col("cell").isin(nearCells: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), approx.as("approx_cosine"))
      .orderBy(col("approx_cosine").desc, col("vec_id"))
      .limit(shortlist)
    val p = typedlit(probeF)
    emb.join(broadcast(short), "vec_id")
      .select(col("vec_id"), col("label"),
        (dot(spark, col("embedding"), p) /
          (l2(spark, col("embedding")) * l2(spark, p))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  /** End-to-end training-data curation capstone: exact dedup (keep min
    * doc_id per content hash) → drop near-duplicate losers (higher doc_id of
    * each LSH-confirmed pair) → quality gate (length + stopword-bearing).
    * Returns surviving doc ids with their quality stats — the composed form
    * of the individual operators, sharing their scale properties (hash
    * shuffles + anti joins; nothing quadratic, bodies shuffled only for
    * candidate verification).
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val survivorsExact = dedupExact(spark, dir).select("doc_id")
    val nearLosers = confirmedPairs(spark, dir).select(col("doc_b").as("doc_id")).distinct()
    val quality = textQuality(spark, dir)
    quality
      .join(survivorsExact, Seq("doc_id"), "left_semi")
      .join(nearLosers, Seq("doc_id"), "left_anti")
      .filter(col("n_words") >= 10 && col("mean_word_len") < 20)
      .select("doc_id", "lang", "n_words", "est_bpe_tokens")
      .orderBy("doc_id")
  }

  /** The stored dedup index an incremental sink maintains ALONGSIDE its
    * data — the state that lets each micro-batch dedup against the whole
    * loaded history without ever re-reading or re-hashing it. One narrow,
    * append-only table per role; a [[Modality]] keeps the roles it uses
    * and leaves the others None:
    *
    *   - `hashes`: the exact key (`content_hash` / `payload_hash`), one row
    *     per admitted row — the exact-dup anti-join side;
    *   - `confirm`: the id plus the confirm columns (`sig`, or `embedding`
    *     and `norm`) — the near-dup CONFIRM side, joined only for
    *     candidate ids;
    *   - `bands` (band, bucket, doc_id): the LSH band index — the near-dup
    *     candidate-generation side, per-bucket membership CAPPED at
    *     [[MaxAllPairsBucket]] rows (see [[capBandRows]] for the precise
    *     guarantee).
    *
    * The loaded rows themselves never participate in a dedup plan after
    * they are first admitted. At 100 TB the tables would additionally be
    * bucketed/partitioned on their join keys (the band table already is,
    * on (band, bpfx)) — the table SHAPE is already that one.
    */
  final case class DedupIndex(hashes: Option[DataFrame], confirm: Option[DataFrame],
      bands: Option[DataFrame])

  /** A modality's near-dup step: `bands` maps enriched rows to their
    * (doc_id, band, bucket) LSH rows, `confirmCols` are the enriched
    * columns the confirm predicate reads (stored with the id in the
    * `confirmTable` sidecar), and `isDup` compares them as `<c>_a` (the
    * batch row) against `<c>_b` (a lower-id batch row or a stored row).
    */
  final case class NearDup(bands: DataFrame => DataFrame, confirmTable: String,
      confirmCols: Seq[String], isDup: SparkSession => Column)

  /** One content modality of the incremental dedup kernel
    * ([[incrementalDedup]]): the id column, the per-row enrich step (run
    * once per batch, `localCheckpoint`ed when `checkpoint`), an optional
    * exact key, an optional near-dup step, and the sidecar tables in the
    * order a sink appends them after its data — the LAST one is the
    * adoption/read gate, so its presence implies a complete index.
    */
  final case class Modality(idCol: String, enrich: (SparkSession, DataFrame) => DataFrame,
      checkpoint: Boolean, exactKey: Option[String], near: Option[NearDup],
      appendOrder: Seq[String]) {

    /** The table of `idx` stored in the sidecar `name` of [[appendOrder]]. */
    def sidecar(idx: DedupIndex, name: String): DataFrame = (name match {
      case "hashes" => idx.hashes
      case "bands" => idx.bands
      case _ => idx.confirm
    }).get
  }

  object Modality {

    /** Documents (doc_id, text): exact dedup on sha2(text), near dedup by
      * MinHash LSH bands confirmed at estimated Jaccard ≥ `threshold`.
      * Sidecars `sigs` → `bands` → `hashes`. Hashes-first would be the one
      * corrupting order: a replayed row already in the hash table is
      * dropped by the exact anti-join BEFORE the sig/band appends re-run,
      * so those docs' sigs and band rows would stay permanently missing
      * and future near-dups of them silently admitted.
      */
    def text(threshold: Double = 0.5): Modality = Modality("doc_id",
      (spark, b) => b
        .withColumn("content_hash", sha2(col("text"), 256))
        .withColumn("sig",
          graft.functions.MinHashSignature.minhash(spark, col("text"), NumHashes, ShingleLen)),
      checkpoint = true, exactKey = Some("content_hash"),
      near = Some(NearDup(bandedSig, "sigs", Seq("sig"),
        _ => estJaccard(col("sig_a"), col("sig_b")) >= threshold)),
      appendOrder = Seq("sigs", "bands", "hashes"))

    /** Vectors (vec_id, embedding): no exact step — re-deliveries and
      * copies are the cosine-1.0 case of the near step (zero vectors via
      * [[cosineDup]]'s equality branch) — and near dedup by banded SRP
      * codes ([[srpBandCodes]], stored with each admitted vector so loaded
      * vectors are never re-projected) confirmed by exact cosine ≥
      * `threshold` with precomputed norms. Sidecars `bands` → `vecs`.
      */
    def embedding(threshold: Double = 0.99): Modality = Modality("vec_id",
      (spark, b) => b
        .withColumn("norm", l2(spark, col("embedding")))
        .withColumn("codes", srpBandCodes(spark, col("embedding"))),
      checkpoint = true, exactKey = None,
      near = Some(NearDup(embBands, "vecs", Seq("embedding", "norm"),
        spark => cosineDup(spark, threshold))),
      appendOrder = Seq("bands", "vecs"))

    /** Media assets (asset_id, payload): exact payload-content dedup on the
      * [[graft.ops.Multimodal]] `sha2(payload)` key only — the stored side
      * is hashes, and batch payloads never join against stored bytes.
      * Near-dup media (re-encodes, crops) is the embedding modality's job:
      * decode features to vectors first. The sha2 is not checkpointed: the
      * enriched batch has one consumer. Sidecar `hashes`.
      */
    val media: Modality = Modality("asset_id",
      (_, b) => b.withColumn("payload_hash", sha2(col("payload"), 256)),
      checkpoint = false, exactKey = Some("payload_hash"), near = None,
      appendOrder = Seq("hashes"))
  }

  /** The index rows that enriched, admitted `rows` contribute under `m`:
    * their exact keys, their confirm columns, and their band rows capped
    * against the `stored` band table ([[capBandRows]]; `cells` is the
    * touched-cell set the dedup step already collected). Run over a whole
    * pre-existing unindexed sink (no stored index) it is the one-time
    * BOOTSTRAP; run over a batch's survivors it is that batch's appends.
    * Every steady-state batch reads the stored tables instead of
    * re-deriving them (the r4 design re-derived the index from the sink
    * per micro-batch, O(|sink|) band rows shuffled per batch — the one
    * scale-killer the round-4 audit flagged).
    */
  def indexRows(rows: DataFrame, m: Modality, stored: Option[DedupIndex] = None,
      cells: Option[Seq[Long]] = None): DedupIndex = DedupIndex(
    hashes = m.exactKey.map(k => rows.select(k)),
    confirm = m.near.map(n => rows.select((m.idCol +: n.confirmCols).map(col): _*)),
    bands = m.near.map(n => capBandRows(n.bands(rows), stored.flatMap(_.bands), cells)))

  /** Number of `bpfx` sub-partitions a STORED band table is written with
    * (`bpfx = pmod(bucket, BandPartitions)`): partitioning by `band` alone
    * prunes nothing — every signature lands one row in EVERY band — but a
    * (band, bpfx) grid of NumBands×BandPartitions cells lets a small batch
    * prune the stored scan to the cells its own band rows touch.
    */
  private[graft] val BandPartitions = 16

  /** The (band, bpfx) grid cell of a band row, flattened to one long —
    * `band * BandPartitions + pmod(bucket, BandPartitions)`.
    */
  private[graft] def bandCell(band: Column, bucket: Column): Column =
    band.cast("long") * BandPartitions + pmod(bucket.cast("long"), lit(BandPartitions.toLong))

  /** The distinct (band, bpfx) grid cells a probe's band rows touch,
    * collected on the driver — a bounded parameter fetch (≤ #bands ×
    * [[BandPartitions]] longs — 256 for the MinHash grid — independent of
    * data size). Callers must pass a probe whose plan is already
    * materialized (checkpointed), so the collect is a cheap scan, not a
    * recomputation; and a batch that both prunes candidates AND caps
    * appends must collect ONCE and pass the cells to both steps
    * ([[incrementalDedup]] → [[indexRows]]) rather than launching two
    * near-identical driver jobs per micro-batch.
    */
  private[graft] def touchedCells(probeBands: DataFrame): Seq[Long] =
    probeBands
      .select(bandCell(col("band"), col("bucket")).as("cell"))
      .distinct().collect().map(_.getLong(0)).toSeq

  /** Prune a stored band table to a pre-collected touched-cell set,
    * applied as a STATIC predicate on partition columns only, so the scan
    * prunes deterministically (visible as PartitionFilters in the physical
    * plan) instead of betting on dynamic partition pruning. The stored
    * table carries `bpfx` only when it was written partitioned (see
    * [[graft.streaming.StreamingExtract]]'s band writes); an unpartitioned
    * table passes through untouched.
    *
    * Degenerate-batch short-circuit: a big enough batch touches EVERY
    * bpfx cell of every band it bands into — and since every signature
    * emits one row per band, a nonempty probe touches every band of its
    * scheme, so `|cells| = nBandsTouched × BandPartitions` means the grid
    * is saturated and the isin filter would enumerate the entire grid
    * while pruning nothing. Skip it: the full stored scan is exactly what
    * the filter would deliver, minus the predicate evaluation. Pruning
    * pays in the complementary regime — batches whose band rows are small
    * relative to the grid (≲ a few hundred docs per micro-batch for the
    * 16×16 MinHash grid), which is the steady-state incremental shape.
    */
  private[graft] def pruneBandsToCells(stored: DataFrame, cells: Seq[Long]): DataFrame =
    if (!stored.columns.contains("bpfx")) stored
    else {
      val nBandsTouched = cells.map(_ / BandPartitions).distinct.size
      if (cells.nonEmpty && cells.size >= nBandsTouched * BandPartitions)
        stored.select("band", "bucket", "doc_id")
      else
        stored
          .filter(bandCell(col("band"), col("bpfx")).isin(cells: _*))
          .select("band", "bucket", "doc_id")
    }

  /** Band rows to ADD to a stored band table for newly admitted rows,
    * enforcing the per-bucket cap: a bucket retains at most
    * [[MaxAllPairsBucket]] member rows (lowest ids at bootstrap, arrival
    * order across batches), so a batch row joining any bucket touches a
    * BOUNDED member set and one degenerate bucket can never go
    * |batch|×|bucket| quadratic. `nb` is the new (band, bucket, doc_id)
    * rows — MinHash bands or SRP codes alike.
    *
    * Weaker guarantee than the self-pair star-link, stated precisely: a
    * batch row that is a near-dup ONLY of evicted (post-cap) members of a
    * full bucket — and shares no other band with them — is admitted even
    * though it is a duplicate, and unlike the in-batch star-link there is
    * no transitive collapse to recover it. The loss is bounded to buckets
    * that overflow with mutually NON-duplicate members: every stored row
    * was itself checked against the index before admission, so bucket
    * members are pairwise sub-threshold and an overflowing bucket is a
    * band-collision pile-up, not a duplicate cluster (a true duplicate
    * pile never reaches the cap — its members are dropped, not stored).
    * The recall-preserving alternative — sub-bucket salting, re-banding an
    * oversized bucket's members under a second hash — multiplies the
    * batch-side probe fan-out by the salt count; the capped form is the
    * right default at real dup rates.
    *
    * Existing bucket occupancy is counted only for the buckets this batch
    * touches: the stored table is partition-pruned via
    * [[pruneBandsToCells]], then semi-joined to the (broadcast, tiny)
    * batch bucket-key set before the count, so the aggregate shuffles
    * matched rows, not the whole index. `touchedGrid`, when provided, is a
    * pre-collected cell set covering `nb`'s band rows (a superset is fine
    * — the semi-join on exact (band, bucket) keys makes over-pruning
    * impossible): the sink passes the cells its dedup step already
    * collected, so one driver fetch serves both steps.
    */
  private[graft] def capBandRows(nb: DataFrame, storedBands: Option[DataFrame],
      touchedGrid: Option[Seq[Long]] = None): DataFrame = {
    val ranked = nb.withColumn("__rk",
      row_number().over(Window.partitionBy("band", "bucket").orderBy("doc_id")))
    val occupied = storedBands match {
      case None => ranked.withColumn("__n_old", lit(0L))
      case Some(sb) =>
        val touched = nb.select("band", "bucket").distinct()
        val pruned =
          if (!sb.columns.contains("bpfx")) sb
          else pruneBandsToCells(sb, touchedGrid.getOrElse(touchedCells(nb)))
        val oldCounts = pruned
          .join(broadcast(touched), Seq("band", "bucket"), "left_semi")
          .groupBy("band", "bucket").agg(count(lit(1)).as("__n_old"))
        ranked.join(oldCounts, Seq("band", "bucket"), "left")
          .withColumn("__n_old", coalesce(col("__n_old"), lit(0L)))
    }
    occupied.filter(col("__rk") + col("__n_old") <= MaxAllPairsBucket)
      .select("band", "bucket", "doc_id")
  }

  /** (band, bucket, doc_id) band rows of a (vec_id, codes) table — the SRP
    * counterpart of [[bandedSig]].
    */
  private[graft] def embBands(codes: DataFrame): DataFrame =
    codes.select(col("vec_id").as("doc_id"), explode(col("codes")).as("bc"))
      .select(col("doc_id"), col("bc.band").as("band"), col("bc.bucket").as("bucket"))

  /** Exact-cosine duplicate confirm with the ZERO-NORM case made explicit:
    * `dot/(norm_a*norm_b)` is NaN for a zero vector (0/0), which would
    * make every comparison false and re-admit byte-identical zero-vector
    * re-deliveries forever. A pair with either norm zero is a duplicate
    * iff the embeddings are equal (cosine 1 by convention), else distinct.
    */
  private def cosineDup(spark: SparkSession, threshold: Double): Column =
    when(col("norm_a") === 0.0 || col("norm_b") === 0.0,
      col("embedding_a") === col("embedding_b"))
      .otherwise(dot(spark, col("embedding_a"), col("embedding_b")) /
        (col("norm_a") * col("norm_b")) >= threshold)

  /** INCREMENTAL dedup of one extract round against an already-loaded
    * sink, represented by its stored [[DedupIndex]] — the production
    * composition of the extractor's at-least-once delivery with the dedup
    * families, one kernel for every [[Modality]]. Per batch:
    *
    *   1. enrich each row once (`localCheckpoint`ed when the modality
    *      asks): the most expensive per-row kernel (sha2 + MinHash, SRP
    *      projection) feeds every downstream consumer — in-batch banding,
    *      two confirm joins, the final anti-joins and the caller's sink and
    *      index appends — with none of the cross-batch cache leak a persist
    *      would create over a long-running stream;
    *   2. exact: keep the min id per exact key within the batch, then
    *      anti-join the stored hashes (re-deliveries and copies);
    *   3. near, within the batch: [[bucketedPairs]] over the post-exact
    *      band rows, confirmed by the modality's predicate — the higher
    *      id of each confirmed pair loses (transitively collapsing via the
    *      star-links);
    *   4. the touched (band, bpfx) grid cells of the ENRICHED batch's band
    *      rows, collected once when the stored band table is partitioned
    *      (a superset of the survivors' cells, so the caller's
    *      [[indexRows]] append cap reuses them — one driver fetch per
    *      batch, not two);
    *   5. near, against the store: candidates from the cell-pruned,
    *      pre-capped stored band table, confirmed against the stored
    *      confirm table (fetched for candidate ids only), losers anti-joined.
    *
    * Returns the survivors, still enriched (ready to append to the sink and
    * the index), and the step-4 cells (None when no collect happened).
    *
    * Scale shape: the batch side is one extract round (small by
    * construction); the stored side contributes a narrow hash column for
    * one anti-join, a band table whose join fan-out is bounded at
    * [[MaxAllPairsBucket]] per bucket, and confirm columns for candidate
    * ids only. NOTHING is re-derived from the loaded rows — no re-banding,
    * no re-hashing, no re-projection, no sink scan: one stored index,
    * reused across successive batches whatever the similarity measure (the
    * shape of "Incremental Based Framework for Efficient Top-K Similarity
    * Search in Interactive Data Analysis Sessions", EDBT 2020).
    */
  def incrementalDedup(spark: SparkSession, batch: DataFrame, m: Modality,
      index: Option[DedupIndex]): (DataFrame, Option[Seq[Long]]) = {
    val id = m.idCol
    val enriched0 = m.enrich(spark, batch)
    val enriched = if (m.checkpoint) enriched0.localCheckpoint(true) else enriched0
    val afterExact = m.exactKey.fold(enriched) { k =>
      val batchExact = enriched
        .withColumn("__rn", row_number().over(Window.partitionBy(k).orderBy(id)))
        .filter(col("__rn") === 1).drop("__rn")
      index.flatMap(_.hashes).fold(batchExact)(h =>
        batchExact.join(h.select(k), Seq(k), "left_anti"))
    }
    m.near match {
      case None => (afterExact, None)
      case Some(n) =>
        def side(df: DataFrame, as: String, sfx: String): DataFrame =
          df.select(col(id).as(as) +: n.confirmCols.map(c => col(c).as(s"${c}_$sfx")): _*)
        val isDup = n.isDup(spark)
        val selfLosers = bucketedPairs(n.bands(afterExact))
          .join(side(afterExact, "doc_a", "a"), "doc_a")
          .join(side(afterExact, "doc_b", "b"), "doc_b")
          .filter(isDup)
          .select(col("doc_b").as(id)).distinct()
        val afterSelf = afterExact.join(selfLosers, Seq(id), "left_anti")
        index.flatMap(i => i.bands.zip(i.confirm)) match {
          case Some((bands, confirm)) =>
            val cells =
              if (bands.columns.contains("bpfx")) Some(touchedCells(n.bands(enriched)))
              else None
            val cands = n.bands(afterSelf).withColumnRenamed("doc_id", "new_id")
              .join(cells.fold(bands)(pruneBandsToCells(bands, _))
                .withColumnRenamed("doc_id", "old_id"), Seq("band", "bucket"))
              .select("new_id", "old_id").distinct()
            val storeLosers = cands
              .join(side(afterSelf, "new_id", "a"), "new_id")
              .join(side(confirm, "old_id", "b"), "old_id")
              .filter(isDup)
              .select(col("new_id").as(id)).distinct()
            (afterSelf.join(storeLosers, Seq(id), "left_anti"), cells)
          case None => (afterSelf, None)
        }
    }
  }

  /** The incremental-dedup composition as a driver-runnable BATCH query:
    * the even-doc_id half of the corpus plays an already-loaded enriched
    * sink, the odd half plays one at-least-once extract round, and the
    * output is the round's surviving doc_ids — each odd doc admitted only
    * if it is no exact/near dup of a stored doc nor of a lower-id batch
    * doc. One query exercises both halves of the production shape:
    * [[indexRows]] (bootstrap derivation) feeding [[incrementalDedup]]
    * (the steady-state kernel the indexed streaming sink runs per
    * micro-batch).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // Deliberately NOT repartitioned (r16, measured and rejected): spreading
    // the sha2+MinHash kernel 32-way inflated summed task CPU 1.6 → 18.5 s
    // (concurrent interpreted evaluations thrash far below linear scaling on
    // KB-sized partitions) with no wall gain, and at scale it would pay a
    // full-corpus text exchange — the checkpoint below already runs the
    // kernel once.
    val docs = t(spark, dir, "documents")
    val text = Modality.text()
    // The prior half's signatures feed the band index AND the confirm join
    // — two plan occurrences, each recomputing the MinHash pass without
    // this checkpoint (the same run-once rationale as the kernel's own
    // enriched-batch checkpoint).
    val prior = text.enrich(spark, docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text")))
      .localCheckpoint(true)
    val batch = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
    incrementalDedup(spark, batch, text, Some(indexRows(prior, text)))._1
      .select("doc_id").orderBy("doc_id")
  }

  // ---------------------------------------------------------------- text analysis

  /** Tokenized term table (doc_id, lang, term), persisted + memoized per
    * (session, dir): four text operators explode the same whitespace split —
    * sharing the materialized token table (the production pattern: tokenize
    * once, every downstream aggregate reads the token column) replaces four
    * repeated explode scans with one.
    */
  private def docTerms(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memo(spark, dir, "terms") {
      t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Per-language top-5 terms by frequency: explode → two-phase count →
    * per-key top-k window. The generator (`explode`) is the engine's UDTF story.
    */
  def textTokenizeTf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("term"))
    docTerms(spark, dir)
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("lang", "rk")
  }

  /** Per-source corpus stats; avg computed as exact integer sum / count. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        (floor((sum(col("n_chars")) / (count(lit(1)) * lit(1.0))) * 100 + 0.5) / 100.0).as("avg_chars"),
        countDistinct(col("lang")).as("langs"))
      .orderBy("source")

  /** Vowel-masking scrub — the regexp_replace-based shape of PII/content
    * masking passes (per-row, codegen'd, runs at scan speed).
    */
  def textScrub(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        substring(regexp_replace(col("text"), "[aeiou]", "*"), 1, 40).as("scrubbed_head"),
        graft.functions.TokenCount.tokenCount(spark, col("text")).as("n_tokens"))
      .orderBy("doc_id")

  /** TF-IDF-style term salience, integer-exact: score = tf · N / df where
    * tf, N, df are exact integers and the single double division is
    * bit-identical across engines (no log(), which can differ by 1 ulp
    * between libm implementations). Top-3 terms per doc. Plan: explode →
    * two hash aggregates → broadcast-joined df table → per-doc top-k window.
    * The corpus size N rides the SAME plan as a broadcast 1-row aggregate
    * (cross join with a count over the documents scan) — not a separate
    * driver-side `docs.count()` job, which at scale would re-read the whole
    * corpus once per invocation before the real query even starts.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = t(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    // Materialized once (localCheckpoint): TWO consumers — the window path
    // and the df rollup — would otherwise each re-run the (doc, term)
    // aggregate over the exploded term table (the plan showed the
    // Exchange + HashAggregate subtree duplicated under the broadcast df
    // branch; r15 measured 1.00 → ~0.93 s warm at sf0.1 — modest locally
    // where the persisted docTerms makes the re-aggregate cheap, but the
    // duplicate was a second full pass over the corpus-sized term table).
    val tf = docTerms(spark, dir).select(col("doc_id"), col("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf") * col("n_docs") * 1.0 / col("df")
    val w = Window.partitionBy("doc_id").orderBy(score.desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", score)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rk")
      .orderBy("doc_id", "rk")
  }

  /** Heuristic quality scoring + token counts per document: length, word
    * count (whitespace tokenization), a BPE-ish subword estimate (chars/4 —
    * the common ~4-chars-per-token heuristic), mean word length, and a
    * stopword ratio over a tiny built-in English list. Pure codegen'd
    * expressions — runs at scan speed.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "by")
    val tokens = split(col("text"), " ")
    val nTokens = size(tokens)
    val stopCnt = size(filter(tokens, t => t.isin(stop.map(s => s: Any): _*)))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_text"),
        nTokens.cast("long").as("n_words"),
        ceil(length(col("text")) / 4.0).as("est_bpe_tokens"),
        Exact.r2(length(col("text")) / (nTokens * lit(1.0))).as("mean_word_len"),
        Exact.r4(stopCnt / (nTokens * lit(1.0))).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Positional generator (posexplode — the UDTF extension point with
    * ordinality): first 5 tokens of each document with 1-based positions.
    */
  def generatorPosexplode(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "term")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("term"))
      .filter(col("pos") <= 5)
      .orderBy("doc_id", "pos")

  /** BPE-ish regex token counting (word / number / single-symbol classes —
    * the shape of GPT-style pre-tokenization), alongside whitespace tokens:
    * the two standard token-count estimators for corpus budgeting.
    */
  def textTokenRegex(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
          .cast("long").as("regex_tokens"),
        graft.functions.TokenCount.tokenCount(spark, col("text")).as("ws_tokens"))
      .orderBy("doc_id")

  /** Count-min-sketch heavy hitters: estimated frequencies of the corpus's
    * top terms from a fixed-seed CMS built distributedly (treeAggregate merge
    * of per-partition sketches — the constant-memory frequency path at
    * 100 TB, where an exact term count shuffles the full vocabulary).
    * Estimates are upper bounds within eps·N w.h.p.; scalatest pins the
    * tolerance against exact counts.
    */
  def textHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val terms = docTerms(spark, dir).select("term")
    val cms = terms.stat.countMinSketch("term", eps = 0.0001, confidence = 0.99, seed = 42)
    // Candidate terms from a cheap fixed-seed sample — NEVER from an exact
    // full-vocabulary count, which is the shuffle the sketch exists to
    // replace. A true heavy hitter (frequency ≥ φ·N) appears in a p-sample
    // ~φ·p·N times, so it tops the sample's (bounded, tiny) vocabulary
    // w.h.p.; the oversampled candidate list (3× the reported k) absorbs
    // sample-rank noise, and the CMS — built over ALL terms — does the
    // ranking. The collect ships ≤30 candidate strings: a parameter fetch.
    val candidates = terms.sample(withReplacement = false, fraction = 0.05, seed = 42)
      .groupBy("term").agg(count(lit(1)).as("sample_cnt"))
      .orderBy(col("sample_cnt").desc, col("term")).limit(30)
      .collect().map(_.getString(0))
    import spark.implicits._
    candidates.map(t => (t, cms.estimateCount(t)))
      .sortBy { case (t, est) => (-est, t) }.take(10).toSeq
      .toDF("term", "cms_estimate")
      .orderBy(col("cms_estimate").desc, col("term"))
  }

  /** N-gram-frequency language ID heuristic: score each candidate language by
    * overlap between the doc's tokens and that language's top terms (learned
    * from the corpus itself — per-lang top-20 terms), pick argmax. Entirely
    * joins + HOFs; at scale the per-lang term lists are a broadcast dim.
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("term"))
    val topTerms = docTerms(spark, dir)
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .groupBy(col("lang").as("cand_lang"))
      .agg(collect_set(col("term")).as("cand_terms"))
    // Distinct token set computed ONCE per doc, before the ×|langs| cross
    // join — inside the join it would be recomputed per candidate language.
    val scored = docs.select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tokens"))
      .crossJoin(broadcast(topTerms))
      .select(col("doc_id"), col("lang"), col("cand_lang"),
        size(array_intersect(col("tokens"), col("cand_terms"))).as("overlap"))
    val best = Window.partitionBy("doc_id")
      .orderBy(col("overlap").desc, col("cand_lang"))
    scored.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand_lang").as("pred_lang"), col("overlap").cast("long").as("overlap"))
      .orderBy("doc_id")
  }

  /** Classifier QC scorecard for [[textLangId]] against the gold `lang`
    * labels — the agreement report a labeling pipeline runs before
    * trusting a heuristic gate: per language the confusion-matrix
    * marginals (`n_true`/`n_pred`/`n_correct`) with precision and recall,
    * plus the two GLOBAL columns every row carries — accuracy and Cohen's
    * KAPPA, the chance-corrected agreement. With N docs, A agreements, and
    * P = Σ_k row_k·col_k the expected-agreement mass, κ = (N·A − P)/(N² −
    * P): counts and both κ operands form in exact int64, and κ_micro is
    * ONE micro-rounded IEEE division of those two integers (the
    * [[graft.ops.Graph.graphAssortativity]] convention — a 1e6-scaled
    * integer division would overflow at ~3M docs; the double form is
    * deterministic in both engines and holds to the N² int64 bound at
    * ~3·10⁹ docs, past which a scorecard shards per corpus slice). A
    * language never predicted reports NULL precision (0/0), not a crash.
    *
    * Scale: the doc-scale work is the langid kernel itself; everything
    * here aggregates its output to the |langs|² confusion matrix first,
    * so every join below is over dimension-sized tables.
    */
  def textLangIdKappa(spark: SparkSession, dir: String): DataFrame = {
    val m = textLangId(spark, dir)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val rowm = m.groupBy("lang").agg(sum(col("c")).as("n_true"))
    val colm = m.groupBy(col("pred_lang")).agg(sum(col("c")).as("n_pred"))
    val diag = m.filter(col("lang") === col("pred_lang"))
      .select(col("lang"), col("c").as("n_correct"))
    val tot = m.agg(sum(col("c")).as("n"),
      sum(when(col("lang") === col("pred_lang"), col("c")).otherwise(0L)).as("a"))
    // ONE rowm⋈colm join feeds both the expected-agreement sum and the
    // output rows — the two uses can't drift.
    val rc = rowm.join(colm, rowm("lang") === colm("pred_lang"), "left")
      .localCheckpoint()
    val pe = rc.agg(sum(col("n_true") * coalesce(col("n_pred"), lit(0L))).as("p"))
    val g = tot.crossJoin(pe)
      .select(expr("(1000000 * a) div n").as("accuracy_micro"),
        expr("cast(floor(1000000.0 * (n * a - p) / (n * n - p) + 0.5) as bigint)")
          .as("kappa_micro"))
    rc.join(diag, Seq("lang"), "left")
      .crossJoin(broadcast(g))
      .select(col("lang"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"),
        when(coalesce(col("n_pred"), lit(0L)) === 0L, lit(null).cast("long"))
          .otherwise(expr("(1000000 * coalesce(n_correct, 0)) div n_pred"))
          .as("precision_micro"),
        expr("(1000000 * coalesce(n_correct, 0)) div n_true").as("recall_micro"),
        col("accuracy_micro"), col("kappa_micro"))
      .orderBy("lang")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric d×d matrix (plain
    * driver-side numerics — d is the embedding dimension, never the row
    * count). Returns eigenvalues sorted descending. Deterministic: same
    * matrix in → same rotations → same values out.
    */
  private[graft] def jacobiEigenvalues(m0: Array[Array[Double]]): Array[Double] =
    jacobiEigen(m0)._1

  /** Full eigendecomposition: (eigenvalues desc, matching eigenvectors as
    * rows), rotation matrix accumulated alongside the sweeps. Sign is fixed
    * deterministically: each vector's largest-|component| entry is positive
    * (Jacobi itself leaves the sign arbitrary).
    */
  private[graft] def jacobiEigen(
      m0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m0.length
    val m = m0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = m(p)(q)
          if (math.abs(apq) > 1e-18) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val mip = m(i)(p); val miq = m(i)(q)
              m(i)(p) = c * mip - s * miq
              m(i)(q) = s * mip + c * miq
              i += 1
            }
            i = 0
            while (i < d) {
              val mpi = m(p)(i); val mqi = m(q)(i)
              m(p)(i) = c * mpi - s * mqi
              m(q)(i) = s * mpi + c * mqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      p = 0
      while (p < d - 1) { var q = p + 1; while (q < d) { off += m(p)(q) * m(p)(q); q += 1 }; p += 1 }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -m(i)(i))
    val vals = order.map(i => m(i)(i)).toArray
    val vecs = order.map { k =>
      val col = Array.tabulate(d)(i => v(i)(k))
      val piv = col.indices.maxBy(i => (math.abs(col(i)), -i))
      if (col(piv) < 0) col.map(-_) else col
    }.toArray
    (vals, vecs)
  }

  /** Distributed PCA over the embedding corpus: ONE pass accumulates the
    * exact sufficient statistics — per-partition `long[]` of component sums
    * and upper-triangle Gram products over MICRO-QUANTIZED components
    * (`⌊v·1e6⌋` per coordinate, so every sum is pure int64 and the result is
    * bit-deterministic under any partitioning or reduction order — the same
    * exact-integer determinism trick the rest of the inventory uses, applied
    * to linear algebra) — then the driver assembles the 64×64 covariance
    * C = (G − s·sᵀ/n)/(n−1) and runs cyclic [[jacobiEigenvalues]]. Reports
    * the top components' eigenvalues (rescaled to input units) and explained
    * variance in micros.
    *
    * Scale: the classic tall-skinny pattern — executors stream N rows into
    * d(d+1)/2 + d + 1 longs (≈17 KB), the shuffle/driver cost is O(d²) per
    * partition and INDEPENDENT of N, and the O(d³) eigensolve touches a
    * 64×64 matrix. Overflow headroom: |v|≲8 ⇒ products ≲6.4e13; int64
    * saturates only past ~140 G rows per partition.
    */
  /** One distributed pass of PCA sufficient statistics over micro-quantized
    * components: (n, per-dimension sums, covariance matrix). Exact int64
    * accumulation — bit-deterministic under any partitioning/reduction
    * order. Shared by [[embedPca]] (spectrum) and [[embedPcaProject]]
    * (transform).
    */
  private def pcaStats(spark: SparkSession, dir: String,
      d: Int): (Double, Array[Long], Array[Array[Double]]) = {
    import spark.implicits._
    val tri = d * (d + 1) / 2
    val stats = t(spark, dir, "embeddings")
      .select(col("embedding")).as[Array[Float]]
      .mapPartitions { it =>
        val acc = new Array[Long](tri + d + 1)
        val q = new Array[Long](d)
        it.foreach { v =>
          var i = 0
          while (i < d) { q(i) = math.floor(v(i) * 1e6).toLong; acc(tri + i) += q(i); i += 1 }
          var k = 0
          i = 0
          while (i < d) {
            var j = i
            while (j < d) { acc(k) += q(i) * q(j); k += 1; j += 1 }
            i += 1
          }
          acc(tri + d) += 1L
        }
        Iterator.single(acc)
      }
      .reduce { (x, y) => val z = new Array[Long](x.length); var i = 0
        while (i < x.length) { z(i) = x(i) + y(i); i += 1 }; z }
    val n = stats(tri + d).toDouble
    val cov = Array.ofDim[Double](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      val g = stats(k).toDouble
      val c = (g - stats(tri + i).toDouble * stats(tri + j).toDouble / n) / (n - 1.0)
      cov(i)(j) = c; cov(j)(i) = c
      k += 1
    }
    (n, stats.slice(tri, tri + d), cov)
  }

  def embedPca(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import spark.implicits._
    val (_, _, cov) = pcaStats(spark, dir, 64)
    val eig = jacobiEigenvalues(cov)
    val trace = eig.sum
    val rows = eig.take(topK).zipWithIndex.map { case (ev, i) =>
      // 1e-12 rescales micro² back to input units; micro-round the output.
      (i + 1L, math.floor(ev * 1e-12 * 1e6 + 0.5) / 1e6,
        math.floor(ev * 1e6 / trace + 0.5).toLong)
    }
    rows.toSeq.toDF("component", "eigenvalue", "evr_micro").orderBy("component")
  }

  /** The PCA TRANSFORM: every vector projected onto the top-2 principal
    * components (mean-centered), in input units × 1e−6-rounded micros —
    * the whitening/visualization step a curation pipeline runs after
    * [[embedPca]] fits the basis. The d×2 eigenvector matrix is a
    * driver-side parameter (deterministic Jacobi with a fixed sign
    * convention) BROADCAST into a per-row codegen'd dot product — the
    * classic fit-small / transform-big split: the transform stage is one
    * narrow map over the corpus, no shuffle at all. Centering folds into a
    * scalar: p = v·e − μ·e.
    */
  def embedPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val d = 64
    val (n, sums, cov) = pcaStats(spark, dir, d)
    val (_, vecs) = jacobiEigen(cov)
    def proj(k: Int): Column = {
      val e = vecs(k).toIndexedSeq
      // μ·e in input units: sums are micro-scale, so ×1e−6/n.
      val muDot = (0 until d).map(i => sums(i).toDouble * e(i)).sum * 1e-6 / n
      floor((dot(spark, col("embedding"), typedlit(e)) - muDot) * 1e6 + 0.5)
        .cast("long")
    }
    t(spark, dir, "embeddings")
      .select(col("vec_id"), proj(0).as("pc1_micro"), proj(1).as("pc2_micro"))
      .orderBy("vec_id")
  }

  /** Per-dimension corpus statistics (mean/variance per embedding
    * coordinate) — the normalization/whitening diagnostic every embedding
    * pipeline runs before indexing: a dimension with outsized variance
    * dominates cosine, a near-constant one is dead weight. Components
    * micro-quantize FIRST (float→double widening is exact, one multiply +
    * floor — bit-identical in both engines), so Σm and Σm² are exact int64
    * and the variance comes from the [[graft.ops.Analytics.ordersXyzClass]]
    * identity (n·Q − S²)/n² as one IEEE division, micro-rounded.
    *
    * Scale: posexplode fans each row into d (64) rows but the aggregate is
    * keyed on the d-valued dimension — map-side combine collapses each
    * partition to ≤ d partials, so the shuffle carries O(partitions × d)
    * regardless of corpus size. Σm² bounds: |m| ≤ 1e6·|x| — at billions of
    * vectors with |x| ≈ 1, switch the quantum to centi (the
    * [[graft.ops.Analytics.eventsAbCuped]] trade) or per-partition
    * pre-aggregation in DECIMAL.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    val m = floor(col("comp").cast("double") * 1000000 + 0.5).cast("long")
    t(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "comp")))
      .select((col("pos") + 1).cast("long").as("dim"), m.as("m"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("m")).as("s"),
        sum(col("m") * col("m")).as("q"))
      .select(col("dim"), col("n_vecs"),
        floor(col("s").cast("double") / col("n_vecs") + 0.5).cast("long")
          .as("mean_micro"),
        floor((col("n_vecs") * col("q") - col("s") * col("s")).cast("double") /
          (col("n_vecs").cast("double") * col("n_vecs").cast("double") * 1000000.0)
          + 0.5).cast("long").as("var_micro"))
      .orderBy("dim")
  }

  /** Symmetric int8 quantization audit (the embedding-compression step of a
    * vector-index build — 4× smaller than float32, the standard serving
    * trade): per vector, scale s = max|x_i|, codes q_i = clamp(round(x_i/s ·
    * 127)), and the reported max reconstruction error max|x_i − q_i·s/127|
    * (bounded by s/254 for in-range components — the audit asserts the
    * quantizer is lossless-enough per vector, catching outlier-dominated
    * vectors where one huge coordinate crushes the rest to zero). Every
    * step is IEEE +,−,×,÷ plus floor — no libm — and written in the SAME
    * operation order as the oracle, so the doubles agree bit-for-bit;
    * outputs micro-round.
    *
    * Scale: pure per-row map, no shuffle. The per-element work runs as HOF
    * lambdas (interpreted) — fine for a once-per-build audit over 64 dims;
    * a hot serving path would lift it into a [[graft.functions.VectorOps]]
    * codegen expression exactly as the dot product was.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val xd = transform(col("embedding"), y => abs(y.cast("double")))
    val scale = array_max(xd)
    val err = array_max(transform(col("embedding"), { y =>
      val x = y.cast("double")
      val q = greatest(lit(-127.0), least(lit(127.0),
        floor(x / col("s") * 127.0 + 0.5)))
      abs(x - q * col("s") / 127.0)
    }))
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), scale.as("s"))
      .select(col("vec_id"),
        floor(col("s") * 1000000 + 0.5).cast("long").as("scale_micro"),
        when(col("s") === 0.0, 0L).otherwise(
          floor(err * 1000000 + 0.5).cast("long")).as("max_err_micro"))
      .orderBy("vec_id")
  }

  /** Per-label corpus diversity: the MEAN PAIRWISE COSINE among each label's
    * vectors, computed in ONE PASS with zero pair materialization via the
    * Gram identity Σ_{i≠j} vᵢ·vⱼ = ‖Σᵢvᵢ‖² − Σᵢ‖vᵢ‖² — the curation metric
    * behind "is this source redundant" (SemDeDup's motivation measured
    * cheaply: a pile of near-copies → mean cosine → 1, a diverse source
    * → ≈ 0). Vectors L2-normalize first (norm = the codegen'd left-fold
    * [[graft.functions.VectorOps]] dot; DuckDB's `list_reduce` folds the
    * same order, so the doubles agree), normalized components
    * micro-quantize, per-dim sums S_d and per-vector Σm² are exact int64,
    * S_d² accumulates in DECIMAL(38) (HUGEINT on the oracle side), and the
    * final mean is one IEEE division of exact integers, micro-rounded.
    *
    * Scale: the whole query is two aggregates whose keys are (label, dim)
    * and (label) — shuffle O(labels × d) regardless of corpus size; the
    * O(N²) pairwise sum never exists anywhere. THE showcase for
    * sufficient-statistics thinking at 100 TB.
    */
  def embedDiversity(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding"), l2(spark, col("embedding")).as("norm"))
    val nm = emb
      .select(col("label"), col("norm"), posexplode(col("embedding")).as(Seq("pos", "comp")))
      .select(col("label"), col("pos"),
        floor(col("comp").cast("double") / col("norm") * 1000000 + 0.5)
          .cast("long").as("m"))
    // ONE exploded pass carries both sufficient statistics: per (label, dim)
    // S_d = Σm and q_d = Σm²; then T = Σ_d S_d² and U = Σ_i‖mᵢ‖² = Σ_d q_d
    // — the second corpus explode the naive two-aggregate form would run
    // folds into the same shuffle.
    val tuPer = nm.groupBy("label", "pos")
      .agg(sum(col("m")).as("s"), sum(col("m") * col("m")).as("q"))
      .groupBy("label")
      .agg(sum(col("s").cast("decimal(19,0)") * col("s").cast("decimal(19,0)")).as("t"),
        sum(col("q")).as("u"))
    val nPer = emb.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    tuPer.join(nPer, "label")
      .select(col("label"), col("n_vecs"),
        floor((col("t") - col("u")).cast("double") /
          (col("n_vecs").cast("double") * (col("n_vecs") - 1).cast("double") * 1000000.0)
          + 0.5).cast("long").as("mean_cos_micro"))
      .orderBy("label")
  }

  /** Embedding-space drift between corpus snapshots (the [[embedDimStats]]
    * companion of `dq_drift`'s PSI): even-`vec_id` half = reference, odd =
    * candidate; per dimension, both halves' means and the STANDARDIZED mean
    * difference SMD = |μ_c − μ_r| / √((σ²_r + σ²_c)/2) — the scale-free
    * effect size a feature-monitoring gate thresholds (SMD > 0.1 = drifted,
    * the epidemiology convention). Micro-quantized components make all
    * moments exact int64; means, variances (the (nQ−S²)/n² identity), and
    * the SMD are then IEEE ratios of exact integers — no libm but √, which
    * is correctly-rounded everywhere.
    *
    * Scale: one (half, dim)-keyed aggregate — shuffle O(2d) partials per
    * partition; drift over true snapshots would read two partition-pruned
    * date slices instead of the id-parity split.
    */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val m = floor(col("comp").cast("double") * 1000000 + 0.5).cast("long")
    val per = t(spark, dir, "embeddings")
      .select((col("vec_id") % 2 === 0).as("ref"), posexplode(col("embedding")).as(Seq("pos", "comp")))
      .select(col("ref"), (col("pos") + 1).cast("long").as("dim"), m.as("m"))
      .groupBy("ref", "dim")
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"), sum(col("m") * col("m")).as("q"))
      .withColumn("mean_d", col("s").cast("double") / col("n"))
      .withColumn("var_d",
        (col("n") * col("q") - col("s") * col("s")).cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
    val r = per.filter(col("ref")).select(col("dim"),
      col("mean_d").as("mr"), col("var_d").as("vr"))
    val c = per.filter(!col("ref")).select(col("dim"),
      col("mean_d").as("mc"), col("var_d").as("vc"))
    r.join(c, "dim")
      .select(col("dim"),
        floor(col("mr") + 0.5).cast("long").as("mean_ref_micro"),
        floor(col("mc") + 0.5).cast("long").as("mean_cand_micro"),
        when(col("vr") + col("vc") === 0.0,
          when(col("mc") === col("mr"), 0L).otherwise(lit(1000000000L)))
          .otherwise(floor(abs(col("mc") - col("mr")) /
            sqrt((col("vr") + col("vc")) / 2.0) * 1000000 + 0.5).cast("long"))
          .as("smd_micro"))
      .orderBy("dim")
  }
}
