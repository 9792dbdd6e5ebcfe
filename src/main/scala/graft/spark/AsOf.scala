package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.Engine
import graft.plans.AsOfJoin

/** Public entry for the native as-of join ([[graft.plans.AsOfJoin]]).
  *
  * Lives under `org.apache.spark.sql` for one reason only: constructing a
  * DataFrame from a custom logical plan needs the `private[sql]`
  * `Dataset.ofRows` — the standard seam every Spark extension library uses
  * for exactly this (there is no public constructor from a LogicalPlan).
  * Everything else goes through public APIs. Both entries call
  * [[graft.Engine.ensure]], which installs the planner strategies and the
  * marker functions on a live session, so the operator works in ANY
  * session, not just one built with [[graft.GraftExtensions]] (which
  * injects the same parts at session build).
  */
object AsOf {

  /** Left as-of join: for each `left` row, the last `right` row with equal
    * keys and `rightTimeCol` ≤ `leftTimeCol` (`strict = true` tightens to
    * `<` — the latest STRICTLY-prior row, pandas
    * `allow_exact_matches=False`), ties in right time broken by
    * `rightTiebreaks` (take the max) — unmatched left rows keep null right
    * columns. Time columns must be LongType, TimestampType, or
    * TimestampNTZType.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightTiebreaks: Seq[String] = Nil,
      strict: Boolean = false): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      "as-of join needs matching non-empty key lists")
    val spark = left.sparkSession
    Engine.ensure(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    // An unaliased self join would duplicate exprIds across the node's
    // output, and re-analysis would rewrite the right subtree's ids out
    // from under rightKeys/rightTime — fail fast with an actionable
    // message instead of an internal resolution error.
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "as-of join sides share attributes (self join?) — alias the right side's columns first")
    // Name resolution honors the session's case-sensitivity and rejects
    // ambiguity, like Spark's own column resolution.
    val resolver = spark.asInstanceOf[ClassicSparkSession]
      .sessionState.analyzer.resolver
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.filter(a => resolver(a.name, name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $name is ambiguous: ${many.map(_.name).mkString(", ")}")
      }
    val lt = attr(lPlan, leftTimeCol)
    val rt = attr(rPlan, rightTimeCol)
    Seq(lt, rt).foreach { a =>
      require(a.dataType == LongType || a.dataType == TimestampType ||
        a.dataType == TimestampNTZType,
        s"as-of time column ${a.name} must be LongType/TimestampType/TimestampNTZType, " +
          s"got ${a.dataType}")
    }
    val lk = leftKeys.map(attr(lPlan, _))
    val rk = rightKeys.map(attr(rPlan, _))
    // The exec hashes and orders BOTH sides with the left key types; a type
    // mismatch would silently mis-partition (different hash) and misread
    // rows — require exact per-position equality instead.
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key type mismatch: ${a.name}: ${a.dataType} vs ${b.name}: ${b.dataType}")
    }
    val node = AsOfJoin(lPlan, rPlan, lk, rk, lt, rt,
      rightTiebreaks.map(attr(rPlan, _)), isInner = false, strict = strict)
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], node)
  }

  /** Run an `ASOF JOIN … MATCH_CONDITION` SQL statement on ANY session —
    * the vanilla-session twin of the `GraftExtensions` wiring (which makes
    * plain `spark.sql` understand the syntax). Same kernel both ways:
    * [[graft.plans.AsOfSqlRewrite]] turns the clause into a marked LEFT
    * JOIN the stock parser accepts, the session analyzes it, and
    * [[graft.plans.ResolveAsOfSql]] converts the marked Join into the
    * native [[graft.plans.AsOfJoin]] node (planned by the strategy
    * [[graft.Engine.ensure]] installs). An extensions-built session
    * converts during analysis, leaving nothing for the post-pass —
    * idempotent by the marker guard.
    */
  def sql(spark: SparkSession, asofSql: String): DataFrame = {
    // The marker functions (as-of and `graft_interval_match`) and both
    // join strategies are Engine parts.
    Engine.ensure(spark)
    val cs = spark.asInstanceOf[ClassicSparkSession]
    val analyzed = spark.sql(graft.plans.AsOfSqlRewrite(asofSql))
      .queryExecution.analyzed
    ClassicDataset.ofRows(cs, graft.plans.ResolveAsOfSql(analyzed))
  }
}
