package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.Engine
import graft.plans.IntervalJoin

/** Public entry for the native keyed interval join
  * ([[graft.plans.IntervalJoin]]). Same `org.apache.spark.sql` placement
  * and `Dataset.ofRows` seam rationale as [[AsOf]], and the same
  * [[graft.Engine.ensure]] so the operator works on any session (an
  * extensions-built session carries [[graft.plans.IntervalJoinStrategy]]
  * already; `extraStrategies` stays empty there).
  */
object Interval {

  /** Keyed interval join: every (left, right) pair with equal keys
    * and `rightTimeCol` in `[leftTimeCol + loUs, leftTimeCol + hiUs]`
    * (inclusive; loUs may be negative — `(-tol, +tol)` is the symmetric
    * proximity join, `(-lookbackUs, 0)` the attribution lookback). Time
    * columns must be LongType, TimestampType, or TimestampNTZType.
    * `isInner = false` is the LEFT OUTER form: left rows with an empty
    * window (or null key/time) emit once with null right columns —
    * attribution consumers report zero-touch rows without an anti-join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      loUs: Long, hiUs: Long, isInner: Boolean = true): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      "interval join needs matching non-empty key lists")
    require(loUs <= hiUs, s"interval window is empty: [$loUs, $hiUs]")
    val spark = left.sparkSession
    Engine.ensure(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "interval join sides share attributes (self join?) — alias the right side's columns first")
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
        s"interval time column ${a.name} must be LongType/TimestampType/TimestampNTZType, " +
          s"got ${a.dataType}")
    }
    val lk = leftKeys.map(attr(lPlan, _))
    val rk = rightKeys.map(attr(rPlan, _))
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"interval key type mismatch: ${a.name}: ${a.dataType} vs ${b.name}: ${b.dataType}")
    }
    val node = IntervalJoin(lPlan, rPlan, lk, rk, lt, rt, loUs, hiUs, isInner)
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], node)
  }
}
