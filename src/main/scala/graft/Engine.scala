package graft

import java.util.Locale

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions._
import graft.plans._

/** The engine's session parts, in one list, and the two walks that install
  * it (the install-once shape of Pathling's `SqlStrategy.setup`):
  *
  *   - [[inject]], at session build, for sessions built with
  *     [[GraftExtensions]] (`spark.sql.extensions`);
  *   - [[ensure]], on a live session: one idempotent call that every entry
  *     point makes ([[Tables.t]], the sink writers' `StagedReplace.heal`,
  *     the as-of and interval entries, the fixed-name Column helpers), so a
  *     plain session gets the same engine whichever entry it uses first.
  *
  * The parts:
  *   - optimizer rules ([[rules]]) and planner strategies ([[strategies]]);
  *   - SQL functions ([[functions]]): the fixed-name graft functions and
  *     the ClickHouse dialect's names ([[graft.plans.ClickHouseFunctions]]).
  *     A name that already exists is never replaced, by either walk: a
  *     Spark built-in keeps its meaning (`xxhash64` stays Spark's; the
  *     ClickHouse dialect raises its `xxHash64` error in the rewrite), and
  *     so does a user's own temp function;
  *   - on a live session only: the `file` filesystem
  *     ([[graft.extract.LocalFs.install]], once per SparkContext) and
  *     `spark.sql.legacy.parquet.nanosAsLong=true`. The conf is an engine
  *     requirement, not a scan option: a genuine TIMESTAMP(NANOS) parquet
  *     column is unreadable on Spark 4.1.2 without it (PARQUET_TYPE_ILLEGAL),
  *     and the scan reads it from the session conf, so it holds for every
  *     parquet read of an ensured session, graft's or not.
  *
  * The parser and [[graft.plans.ResolveAsOfSql]] stay extension-only: a
  * live session's parser is fixed when it is built, so plain sessions reach
  * those dialects through `AsOf.sql` and `ClickHouseSql.sql`.
  */
object Engine {

  val rules: Seq[Rule[LogicalPlan]] = Seq(PushdownNanosTimestamp, LevenshteinLengthGuard)

  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy, IntervalJoinStrategy, ParamScanFilters)

  /** (name, `DESCRIBE FUNCTION` usage, builder). The name-per-parameter
    * Column bridges (`graft_minhash_<n>_<len>` and the like) register at
    * their call and are not listed.
    */
  type SqlFunction = (String, String, Seq[Expression] => Expression)

  val fixedFunctions: Seq[SqlFunction] = Seq(
    ("graft_asof_match",
      "graft_asof_match(l_time, r_time[, tiebreaks...]) - as-of marker in a LEFT JOIN condition: match the last right row with r_time <= l_time",
      AsOfMatch(_, inner = false)),
    ("graft_asof_match_inner",
      "graft_asof_match_inner(l_time, r_time[, tiebreaks...]) - as-of marker dropping unmatched left rows (DuckDB ASOF JOIN default)",
      AsOfMatch(_, inner = true)),
    ("graft_asof_match_strict",
      "graft_asof_match_strict(l_time, r_time[, tiebreaks...]) - as-of marker matching the latest STRICTLY-prior right row (r_time < l_time; DuckDB's > MATCH_CONDITION)",
      AsOfMatch(_, inner = false, strict = true)),
    ("graft_asof_match_inner_strict",
      "graft_asof_match_inner_strict(l_time, r_time[, tiebreaks...]) - strictly-prior as-of marker dropping unmatched left rows",
      AsOfMatch(_, inner = true, strict = true)),
    ("graft_interval_match",
      "graft_interval_match(l_time, r_time, lo_us, hi_us) - interval marker in an INNER or LEFT JOIN condition: match pairs with r_time in [l_time+lo_us, l_time+hi_us]; planned as the native sorted-sweep IntervalJoinExec",
      IntervalMatch(_)),
    ("graft_hilbert",
      "graft_hilbert(x, y[, bits]) - 2-D Hilbert-curve index of grid cell (x, y) on the 2^bits grid (default 16); the continuous space-filling order behind the hilbert lake layout",
      HilbertIndex.fromExprs(_)),
    ("graft_minhash", "graft_minhash(text) - 64-hash MinHash signature (3-word shingles)",
      es => MinHashSignature(es.head, 64, 3)),
    ("graft_shingle_hashes", "graft_shingle_hashes(text) - distinct 3-word shingle hash set",
      es => ShingleHashes(es.head, 3)),
    ("graft_token_count", "graft_token_count(text) - whitespace token count",
      es => TokenCount(es.head)),
    ("graft_dot", "graft_dot(a, b) - dot product of two numeric arrays",
      es => DotProduct(es(0), es(1))),
    ("graft_simhash", "graft_simhash(text) - 64-bit SimHash fingerprint",
      es => SimHash64(es.head)),
    ("graft_rolling_fp", "graft_rolling_fp(text) - content-defined rolling-hash anchor set (16-char window, 1/64 rate)",
      es => RollingFingerprint(es.head, 16, 0x3f)),
    ("graft_deflate_len", "graft_deflate_len(text) - DEFLATE-compressed byte length (level 6)",
      es => DeflateLen(es.head)),
    ("graft_dhash", "graft_dhash(binary) - 64-bit byte-grid perceptual difference hash",
      es => DHash64(es.head)),
    ("graft_char_ngrams", "graft_char_ngrams(text, n) - generator: one (pos, gram) row per n-char window",
      es => CharNgrams(es(0), es(1))),
    ("graft_qgram_hashes", "graft_qgram_hashes(text, q) - generator: one (gram) row per distinct q-char window hash (xxhash64, seed 42)",
      es => QGramHashes(es(0), es(1))),
    ("graft_bloom_might_contain",
      "graft_bloom_might_contain(bloom, x) - false when x is certainly not in the serialized Spark bloom filter `bloom`",
      es => BloomFilterMightContain(es(0), es(1))))

  val functions: Seq[SqlFunction] = fixedFunctions ++ ClickHouseFunctions.builders

  /** The extension's walk: the rules, strategies and functions into a
    * session being built. Spark's built-ins are the names that exist then.
    */
  def inject(ext: SparkSessionExtensions): Unit = {
    rules.foreach(r => ext.injectOptimizerRule(_ => r))
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    functions.filter(f => absent(FunctionRegistry.builtin, f._1)).foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
  }

  /** Install the parts into `spark` once: one [[Tables.memo]] cell per
    * session, so concurrent first calls wait for the one install. A later
    * call is that memo lookup plus one conf read: the conf is the one part
    * a caller resets in passing (`spark.conf.unset`, a conf reset between
    * reads), so it is checked, and set again, on every call.
    */
  def ensure(spark: SparkSession): Unit = {
    Tables.memo(spark, "graft.Engine", "session-parts")(install(spark))
    if (!classic(spark).sessionState.conf.legacyParquetNanosAsLong)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  private def install(spark: SparkSession): Unit = {
    rules.foreach(SessionRules.addOptimization(spark, _))
    strategies.foreach(SessionRules.addStrategy(spark, _))
    val reg = classic(spark).sessionState.functionRegistry
    functions.filter(f => absent(reg, f._1)).foreach { case (name, usage, builder) =>
      reg.registerFunction(FunctionIdentifier(name), info(name, usage), builder)
    }
    graft.extract.LocalFs.install(spark)
  }

  private def classic(spark: SparkSession) = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def absent(reg: FunctionRegistry, name: String): Boolean =
    !reg.functionExists(FunctionIdentifier(name.toLowerCase(Locale.ROOT)))

  private def info(name: String, usage: String): ExpressionInfo =
    // The full 11-arg constructor is the only non-deprecated one that keeps
    // the usage string (shown by `DESCRIBE FUNCTION`).
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "built-in")
}
