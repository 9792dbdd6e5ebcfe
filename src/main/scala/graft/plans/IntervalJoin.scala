package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Logical KEYED INTERVAL JOIN: every (left, right) pair with equal keys
  * whose right time falls in the window `[leftTime + loUs, leftTime + hiUs]`
  * (inclusive both ends; lo may be negative — `[-tol, +tol]` is the
  * symmetric proximity join, `[-lookback, 0]` the attribution lookback).
  * `isInner = true` (default): unmatched left rows emit nothing;
  * `isInner = false` is the LEFT OUTER form — a left row with an empty
  * window (or a null key/time) emits once with null right columns, so
  * attribution-style consumers can report zero-touch rows without a second
  * anti-join pass.
  *
  * This is the second whole-operator extension next to [[AsOfJoin]], and it
  * exists for the same reason: Spark plans `keys equal AND time-range` as an
  * equi join with the range as a POST-JOIN residual — every same-key pair
  * materializes before the filter, O(per-key L × R). The library's composed
  * escape is the (key, time-grid-cell) equi join (`join_asof_nearest`,
  * `intervalPairs`): candidates bounded by rows-per-cell, but each left row
  * registers in ≤ 2 cells (2× shuffle fan-out) and double-registered pairs
  * need a `distinct`. The native operator does strictly less work: one hash
  * exchange per side on the key columns, an in-partition sort per side, then
  * a SINGLE FORWARD SWEEP per partition — O(|L| + |R| + output) with memory
  * bounded by the maximum number of right rows simultaneously inside one
  * window (the interval-overlap depth), no cell fan-out, no dedup pass.
  * Built on the same public seams: `BinaryNode` + `SparkStrategy` +
  * `BinaryExecNode`, one of the [[graft.Engine]] strategies
  * (`injectPlannerStrategy` / `extraStrategies`).
  *
  * Null keys and null times never match (SQL equality semantics). Times
  * must be LongType/TimestampType/TimestampNTZType (micros-long-backed);
  * window bounds are exact int64 micros.
  */
case class IntervalJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    loUs: Long,
    hiUs: Long,
    isInner: Boolean = true) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isInner) right.output
                    else right.output.map(_.withNullability(true)))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: [[IntervalJoin]] → [[IntervalJoinExec]]. */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoin(l, r, lk, rk, lt, rt, lo, hi, inner) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, lo, hi, inner) :: Nil
    case _ => Nil
  }
}

/** Physical sorted-sweep interval join. Children arrive key-co-partitioned
  * and (key, time)-sorted (declared requirements — Catalyst's
  * EnsureRequirements inserts the exchanges/sorts, AQE re-plans them like
  * any join). Per partition: one forward pass holding the ACTIVE WINDOW of
  * right rows — ingested once when their time enters `lt + hiUs`, evicted
  * once when it falls below `lt + loUs` (left times are non-decreasing
  * within a key, so eviction from the head is exact, and each right row is
  * copied exactly once). Interpreted eval like [[AsOfJoinExec]] — the
  * per-row work is projections and long comparisons; exchange and sort are
  * stock Tungsten operators planned around this node.
  */
case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    loUs: Long,
    hiUs: Long,
    isInner: Boolean = true) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isInner) right.output
                    else right.output.map(_.withNullability(true)))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numBuffered" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "right rows ever buffered"))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val lOutput = left.output
    val rOutput = right.output
    val outAttrs = output
    val keyTypes = leftKeys.map(_.dataType)
    val lo = loUs
    val hi = hiUs
    val innerFlag = isInner
    val numOutputRows = longMetric("numOutputRows")
    val numBuffered = longMetric("numBuffered")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOutput)
      val ord = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTime = BindReferences.bindReference(lTimeExpr, lOutput)
      val rTime = BindReferences.bindReference(rTimeExpr, rOutput)
      val joined = new JoinedRow
      // UnsafeRow output projection — the SparkPlan contract (see
      // AsOfJoinExec's note). Binds against the node's OUTPUT attributes,
      // which are nullability-widened on the right when left-outer, so
      // null-extended rows project real nulls instead of primitive zeros.
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rOutput.length)
      def nullExtended(lRow: InternalRow): Iterator[InternalRow] =
        if (innerFlag) Iterator.empty
        else {
          numOutputRows += 1
          Iterator.single(resultProj(joined(lRow, nullRight)))
        }
      val rBuf = rIter.buffered
      // The active window: right rows of bufKey whose time may still fall
      // inside a future left row's window, in ascending time order. Rows
      // enter once (time ≤ lt + hi) and leave once (time < lt + lo) —
      // head-eviction is exact because left times are non-decreasing
      // within a key. Peak size = the interval-overlap depth, the
      // operator's whole memory footprint.
      final class Entry(val row: InternalRow, val t: Long)
      val active = new java.util.ArrayDeque[Entry]()
      var bufKey: InternalRow = null
      // Saturating add: extreme `lo`/`hi` literals (e.g. Long.MaxValue for
      // an unbounded-forward window) must clamp, not wrap — a wrapped edge
      // silently empties the join.
      def satAdd(a: Long, b: Long): Long = {
        val s = a + b
        if (((a ^ s) & (b ^ s)) < 0) { if (a > 0) Long.MaxValue else Long.MinValue }
        else s
      }
      lIter.flatMap { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeV = if (lKey.anyNull) null else lTime.eval(lRow)
        if (lTimeV == null) nullExtended(lRow) // null key/time: no matches
        else {
          val lt = lTimeV.asInstanceOf[Long]
          val hiEdge = satAdd(lt, hi)
          val loEdge = satAdd(lt, lo)
          if (bufKey == null || ord.compare(bufKey, lKey) != 0) {
            active.clear() // sorted inputs: a finished key never returns
            bufKey = lKey.copy() // O(distinct keys) copies
          }
          // Ingest right rows of this key up to the window's high edge.
          var advance = true
          while (advance && rBuf.hasNext) {
            val rKey = rKeyProj(rBuf.head)
            if (rKey.anyNull) { rBuf.next() } // null keys never match
            else {
              val cmp = ord.compare(rKey, lKey)
              if (cmp < 0) { rBuf.next() } // key already passed
              else if (cmp == 0) {
                val rTimeV = rTime.eval(rBuf.head)
                if (rTimeV == null) { rBuf.next() } // null times never match
                else if (rTimeV.asInstanceOf[Long] <= hiEdge) {
                  active.addLast(new Entry(rBuf.next().copy(), rTimeV.asInstanceOf[Long]))
                  numBuffered += 1
                } else advance = false
              } else advance = false
            }
          }
          // Evict below the window's low edge.
          while (!active.isEmpty && active.peekFirst().t < loEdge) active.removeFirst()
          if (active.isEmpty) nullExtended(lRow)
          else {
            import scala.jdk.CollectionConverters._
            // Safe lazy map: flatMap fully drains this iterator before the
            // next left row mutates `active`.
            active.iterator().asScala.map { e =>
              numOutputRows += 1
              resultProj(joined(lRow, e.row))
            }
          }
        }
      }
    }
  }
}
