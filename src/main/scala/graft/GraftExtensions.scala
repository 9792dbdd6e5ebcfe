package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._
import graft.plans.PushdownNanosTimestamp

/** The library's one-line install: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`).
  *
  * Injects every custom surface at session build — the idiomatic packaging
  * for a Spark-native library, vs. the per-call registration
  * (`functionRegistry.createOrReplaceTempFunction`) the query helpers also
  * perform so they work on vanilla sessions:
  *   - optimizer rule: [[graft.plans.PushdownNanosTimestamp]] (parquet
  *     pushdown through the ns→µs normalization)
  *   - planner strategy: [[graft.plans.ParamScanFilters]] (a scan filter's
  *     constants stay out of the generated code, so a new watermark reuses
  *     the compiled class)
  *   - SQL functions: graft_minhash, graft_shingle_hashes, graft_token_count,
  *     graft_dot, graft_simhash, graft_rolling_fp, graft_deflate_len,
  *     graft_dhash, and the graft_char_ngrams GENERATOR — all native
  *     Expressions (scalar, aggregate-adjacent, and table-generating),
  *     available to pure SQL users with no Scala imports.
  *
  * Proven end-to-end by [[ExtensionsDemo]] (extensions bind at session
  * construction, so the proof needs a session built WITH the conf).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    // The full 11-arg constructor is the only non-deprecated one that keeps
    // the usage string (shown by `DESCRIBE FUNCTION`).
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => PushdownNanosTimestamp)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinLengthGuard)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.ParamScanFilters)
    // SQL surface for the as-of operator: parser rewrite (ASOF JOIN …
    // MATCH_CONDITION → marked LEFT JOIN), marker functions, and the
    // resolution rule converting the marked Join into the AsOfJoin node.
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => graft.plans.ResolveAsOfSql)
    ext.injectFunction((FunctionIdentifier("graft_asof_match"),
      info("graft_asof_match",
        "graft_asof_match(l_time, r_time[, tiebreaks...]) - as-of marker in a LEFT JOIN condition: match the last right row with r_time <= l_time"),
      (exprs: Seq[Expression]) => graft.plans.AsOfMatch(exprs, inner = false)))
    ext.injectFunction((FunctionIdentifier("graft_asof_match_inner"),
      info("graft_asof_match_inner",
        "graft_asof_match_inner(l_time, r_time[, tiebreaks...]) - as-of marker dropping unmatched left rows (DuckDB ASOF JOIN default)"),
      (exprs: Seq[Expression]) => graft.plans.AsOfMatch(exprs, inner = true)))
    ext.injectFunction((FunctionIdentifier("graft_asof_match_strict"),
      info("graft_asof_match_strict",
        "graft_asof_match_strict(l_time, r_time[, tiebreaks...]) - as-of marker matching the latest STRICTLY-prior right row (r_time < l_time; DuckDB's > MATCH_CONDITION)"),
      (exprs: Seq[Expression]) => graft.plans.AsOfMatch(exprs, inner = false, strict = true)))
    ext.injectFunction((FunctionIdentifier("graft_asof_match_inner_strict"),
      info("graft_asof_match_inner_strict",
        "graft_asof_match_inner_strict(l_time, r_time[, tiebreaks...]) - strictly-prior as-of marker dropping unmatched left rows"),
      (exprs: Seq[Expression]) => graft.plans.AsOfMatch(exprs, inner = true, strict = true)))
    ext.injectFunction((FunctionIdentifier("graft_interval_match"),
      info("graft_interval_match",
        "graft_interval_match(l_time, r_time, lo_us, hi_us) - interval marker in an INNER or LEFT JOIN condition: match pairs with r_time in [l_time+lo_us, l_time+hi_us]; planned as the native sorted-sweep IntervalJoinExec"),
      (exprs: Seq[Expression]) => graft.plans.IntervalMatch(exprs)))
    ext.injectFunction((FunctionIdentifier("graft_hilbert"),
      info("graft_hilbert",
        "graft_hilbert(x, y[, bits]) - 2-D Hilbert-curve index of grid cell (x, y) on the 2^bits grid (default 16); the continuous space-filling order behind the hilbert lake layout"),
      (exprs: Seq[Expression]) => HilbertIndex.fromExprs(exprs)))
    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(text) - 64-hash MinHash signature (3-word shingles)"),
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head, 64, 3)))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", "graft_shingle_hashes(text) - distinct 3-word shingle hash set"),
      (exprs: Seq[Expression]) => ShingleHashes(exprs.head, 3)))
    ext.injectFunction((FunctionIdentifier("graft_token_count"),
      info("graft_token_count", "graft_token_count(text) - whitespace token count"),
      (exprs: Seq[Expression]) => TokenCount(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two numeric arrays"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(text) - 64-bit SimHash fingerprint"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_rolling_fp"),
      info("graft_rolling_fp", "graft_rolling_fp(text) - content-defined rolling-hash anchor set (16-char window, 1/64 rate)"),
      (exprs: Seq[Expression]) => RollingFingerprint(exprs.head, 16, 0x3f)))
    ext.injectFunction((FunctionIdentifier("graft_deflate_len"),
      info("graft_deflate_len", "graft_deflate_len(text) - DEFLATE-compressed byte length (level 6)"),
      (exprs: Seq[Expression]) => DeflateLen(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_dhash"),
      info("graft_dhash", "graft_dhash(binary) - 64-bit byte-grid perceptual difference hash"),
      (exprs: Seq[Expression]) => DHash64(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_char_ngrams"),
      info("graft_char_ngrams", "graft_char_ngrams(text, n) - generator: one (pos, gram) row per n-char window"),
      (exprs: Seq[Expression]) => CharNgrams(exprs(0), exprs(1))))
    // ClickHouse dialect compat (the reference's custom_query migration
    // path): the combinator/conversion function names; the LIMIT BY /
    // QUALIFY / quantile(p)(x) / uniq clauses ride the injected parser
    // (GraftSqlParser chains ClickHouseSqlRewrite before AsOfSqlRewrite).
    graft.plans.ClickHouseFunctions.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
  }
}

/** Standalone proof that the extensions class wires everything: builds a
  * session with `spark.sql.extensions=graft.GraftExtensions` and runs each
  * injected function from pure SQL plus a pushdown-dependent filter.
  * Usage: runMain graft.ExtensionsDemo [sfDir]
  */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Tables.registerViews(spark, sfDir, Seq("documents", "embeddings", "events"))
    val fns = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT graft_minhash(text), graft_shingle_hashes(text),
        |         graft_token_count(text), graft_simhash(text),
        |         graft_rolling_fp(text), graft_deflate_len(text),
        |         graft_hilbert(doc_id, graft_token_count(text))
        |  FROM documents LIMIT 5)""".stripMargin).head().getLong(0)
    val dot = spark.sql(
      "SELECT graft_dot(embedding, embedding) FROM embeddings LIMIT 1").head().getDouble(0)
    // The generator runs in a LATERAL VIEW position — pure-SQL table function.
    val grams = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT g.pos, g.gram FROM documents
        |  LATERAL VIEW graft_char_ngrams(text, 5) g AS pos, gram
        |  LIMIT 20)""".stripMargin).head().getLong(0)
    val pushed = Tables.t(spark, sfDir, "events")
      .filter(org.apache.spark.sql.functions.col("ts") >=
        org.apache.spark.sql.functions.lit("2024-01-15 00:00:00").cast("timestamp"))
      .queryExecution.executedPlan.toString.contains("GreaterThanOrEqual(ts,")
    // The injected parser + resolution rule + planner strategy end-to-end:
    // plain spark.sql understands the ASOF dialect (strict form included)
    // and plans the native exec.
    val asof = spark.sql(
      """WITH p AS (SELECT event_id, user_id, unix_micros(ts) AS pus
        |           FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT event_id AS eid, user_id AS eu, unix_micros(ts) AS eus FROM events)
        |SELECT count(*) FROM p ASOF JOIN e ON user_id = eu
        |MATCH_CONDITION (pus > eus) TIEBREAK (eid)""".stripMargin)
    val asofOk = asof.queryExecution.executedPlan.toString.contains("AsOfJoin [") &&
      asof.head().getLong(0) > 0
    // The ClickHouse dialect end-to-end on the SAME plain spark.sql:
    // LIMIT BY + QUALIFY + uniqExact + countIf + quantileExact(p)(x).
    val ch = spark.sql(
      """SELECT event_type, uniqExact(user_id) AS u, countIf(value > 0) AS c,
        |       CAST(floor(quantileExact(0.5)(value) * 100 + 0.5) AS BIGINT) AS p50c
        |FROM events GROUP BY event_type
        |ORDER BY event_type, u LIMIT 2 BY event_type""".stripMargin).count()
    val chQ = spark.sql(
      """SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY unix_micros(ts)) AS rn
        |FROM events QUALIFY rn = 1 ORDER BY user_id""".stripMargin).count()
    println(s"[graft.ExtensionsDemo] sql_functions_ok=${fns == 5} dot_ok=${dot > 0} generator_ok=${grams == 20} nanos_pushdown_ok=$pushed asof_dialect_ok=$asofOk ch_dialect_ok=${ch > 0 && chQ > 0}")
    spark.stop()
  }
}
