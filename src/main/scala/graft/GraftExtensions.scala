package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The library's one-line install: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`).
  *
  * Injects, at session build, the engine's one list of session parts
  * ([[Engine.inject]]; a plain session gets the same list from
  * [[Engine.ensure]]):
  *   - optimizer rules: [[graft.plans.PushdownNanosTimestamp]] (parquet
  *     pushdown through the ns→µs normalization) and
  *     [[graft.plans.LevenshteinLengthGuard]] (a `levenshtein(a, b) <= k`
  *     filter gains the `abs(length(a) - length(b)) <= k` pre-check);
  *   - planner strategies: [[graft.plans.AsOfJoinStrategy]] and
  *     [[graft.plans.IntervalJoinStrategy]] (the native as-of and interval
  *     joins) and [[graft.plans.ParamScanFilters]] (a scan filter's
  *     constants stay out of the generated code, so a new watermark reuses
  *     the compiled class);
  *   - SQL functions, all native Expressions: the as-of and interval
  *     markers (graft_asof_match[_inner][_strict], graft_interval_match),
  *     graft_hilbert, graft_minhash, graft_shingle_hashes,
  *     graft_token_count, graft_dot, graft_simhash, graft_rolling_fp,
  *     graft_deflate_len, graft_dhash, graft_bloom_might_contain, the
  *     graft_char_ngrams and graft_qgram_hashes GENERATORS, and the
  *     ClickHouse dialect's names ([[graft.plans.ClickHouseFunctions]]) —
  *     available to pure SQL users with no Scala imports. A Spark built-in
  *     of the same name is never replaced.
  *
  * Extension-only, because a live session's parser is fixed when it is
  * built: the parser ([[graft.plans.GraftSqlParser]]: ASOF JOIN …
  * MATCH_CONDITION → marked LEFT JOIN, and the ClickHouse clauses LIMIT BY
  * / QUALIFY / quantile(p)(x) … for statements the stock parser rejects)
  * and the resolution rule [[graft.plans.ResolveAsOfSql]] that turns the
  * marked Join into the AsOfJoin node.
  *
  * Proven end-to-end by [[ExtensionsDemo]] (extensions bind at session
  * construction, so the proof needs a session built WITH the conf).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Engine.inject(ext)
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => graft.plans.ResolveAsOfSql)
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
