package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Logical AS-OF JOIN: for every left row, the LAST right row of the same
  * key whose time is at-or-before the left row's time (left-outer: unmatched
  * left rows keep null right columns). The point-in-time join every feature
  * store / tick-data / CDC-lookup pipeline needs, which Spark SQL cannot
  * express without either a per-key window self-union trick (same-stream
  * only — `join_asof_latest`) or a banded candidate join that requires a
  * BOUNDED tolerance to stay non-quadratic (`join_asof_nearest`). The
  * UNBOUNDED-lookback two-table case is exactly the shape that justifies a
  * whole-operator extension: brief ladder step (c) — logical node +
  * SparkStrategy + physical SparkPlan, registered per-session.
  *
  * Built against the public extension surface only: `BinaryNode`,
  * `SparkStrategy`, `BinaryExecNode`, `ExperimentalMethods.extraStrategies`
  * / `SparkSessionExtensions.injectPlannerStrategy` — the same seams
  * Spark's own pandas `merge_asof` planning and every third-party engine
  * extension use.
  *
  * Semantics (mirrors DuckDB `ASOF JOIN` / pandas `merge_asof`
  * direction='backward', made total-order deterministic): match = max over
  * right rows with equal key and rightTime ≤ leftTime (`strict = true`
  * tightens to rightTime < leftTime — DuckDB's `>` MATCH_CONDITION /
  * pandas `allow_exact_matches=False`), ordered by (rightTime,
  * tiebreaks...). Null keys and null times never match (SQL equality
  * semantics). Times must be LongType, TimestampType, or TimestampNTZType
  * (all micros-long-backed). `isInner = false` keeps unmatched left rows
  * with null right columns (pandas / `ASOF LEFT JOIN`); `isInner = true`
  * drops them (DuckDB's bare `ASOF JOIN` default) and the right output
  * keeps its original nullability.
  *
  * Scale: one hash exchange per side on the key columns (Catalyst's
  * EnsureRequirements inserts them from `requiredChildDistribution`, and
  * AQE coalesces/re-balances them like any join exchange), an in-partition
  * sort per side from `requiredChildOrdering`, then a SINGLE FORWARD MERGE
  * per partition — O(|L| + |R|) with O(1) state (one buffered right row),
  * no candidate materialization, no tolerance bound needed, skew-safe to
  * the same degree as a sort-merge join on the same key.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreaks: Seq[Expression],
    isInner: Boolean = false,
    strict: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isInner) right.output
                    else right.output.map(_.withNullability(true)))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: the one-case translation [[AsOfJoin]] → [[AsOfJoinExec]].
  * One of the [[graft.Engine]] strategies: `injectPlannerStrategy`
  * ([[graft.GraftExtensions]]) or `spark.experimental.extraStrategies`
  * ([[graft.Engine.ensure]], which [[graft.spark.AsOf.asofJoin]] calls).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb, inner, strict) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, inner, strict) :: Nil
    case _ => Nil
  }
}

/** Physical sorted-merge as-of join. Children arrive key-co-partitioned and
  * (key, time[, tiebreaks]) sorted — both guaranteed by the declared
  * requirements, so this node is pure per-partition compute: a forward
  * merge holding exactly ONE buffered right row. Interpreted eval (no
  * codegen) — the per-row work is two key projections and one long
  * comparison; the expensive parts (exchange, sort) are stock Tungsten
  * operators planned around this node.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreaks: Seq[Expression],
    isInner: Boolean = false,
    strict: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isInner) right.output
                    else right.output.map(_.withNullability(true)))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTiebreaks)).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val lOutput = left.output
    val rOutput = right.output
    val outAttrs = output // right side nullability-widened — null-safe projection
    val keyTypes = leftKeys.map(_.dataType)
    val innerFlag = isInner
    val strictFlag = strict
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOutput)
      val ord = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTime = BindReferences.bindReference(lTimeExpr, lOutput)
      val rTime = BindReferences.bindReference(rTimeExpr, rOutput)
      val nullRight = new GenericInternalRow(rOutput.length)
      val joined = new JoinedRow
      // Project to UnsafeRow — the SparkPlan output contract (collect /
      // shuffle / sort above this node cast to UnsafeRow; a raw JoinedRow
      // over a GenericInternalRow would ClassCastException there). Bind
      // against the node's OUTPUT attributes: the right side is
      // nullability-widened there, so unmatched rows project real nulls
      // instead of primitive zeros.
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val rBuf = rIter.buffered
      // The one-row as-of state: the last right row consumed for bufKey.
      var bufKey: InternalRow = null
      var bufRow: InternalRow = null
      val emit = lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeV = if (lKey.anyNull) null else lTime.eval(lRow)
        if (lTimeV != null) {
          val lt = lTimeV.asInstanceOf[Long]
          var advance = true
          while (advance && rBuf.hasNext) {
            val rKey = rKeyProj(rBuf.head)
            if (rKey.anyNull) { rBuf.next() } // null keys never match
            else {
              val cmp = ord.compare(rKey, lKey)
              if (cmp < 0) { rBuf.next() } // key already passed; stale buffer
              else if (cmp == 0) {
                val rTimeV = rTime.eval(rBuf.head)
                if (rTimeV == null) { rBuf.next() } // null times never match
                else if (if (strictFlag) rTimeV.asInstanceOf[Long] < lt
                         else rTimeV.asInstanceOf[Long] <= lt) {
                  bufRow = rBuf.next().copy()
                  // The key cannot change while cmp == 0 — copy it only on a
                  // real change (O(distinct keys) allocations, not O(|R|)).
                  if (bufKey == null || ord.compare(bufKey, rKey) != 0)
                    bufKey = rKey.copy()
                } else advance = false
              } else advance = false
            }
          }
        }
        val m = if (lTimeV != null && bufRow != null && bufKey != null &&
          ord.compare(bufKey, lKey) == 0) bufRow else nullRight
        if (innerFlag && (m eq nullRight)) null // inner: unmatched left rows drop
        else {
          numOutputRows += 1
          if (m ne nullRight) numMatched += 1
          resultProj(joined(lRow, m))
        }
      }
      emit.filter(_ ne null)
    }
  }
}
