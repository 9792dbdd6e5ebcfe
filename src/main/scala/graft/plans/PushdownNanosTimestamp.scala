package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule restoring parquet pushdown for predicates over the
  * µs-normalized nanos timestamp.
  *
  * A TIMESTAMP(NANOS) parquet column (e.g. a ClickHouse DateTime64(9)
  * export; the fixtures' `events.ts` is µs and never reaches this rule) is
  * read as a nanos long and normalized to `timestamp_micros(ts DIV 1000)`
  * ([[graft.Tables.t]]).
  * A watermark predicate `tsµ >= lit` then sits on a *derived* column, so
  * FileSourceStrategy can only push `IsNotNull` — at 100 TB the incremental
  * extract would scan every row group. This rule rewrites comparisons
  *
  *   cmp( MicrosToTimestamp(ns DIV 1000), TimestampLiteral )
  *
  * into raw-nanos comparisons the parquet reader can use for row-group and
  * page pruning (TimestampType literals are internally µs longs):
  *
  *   ns DIV 1000 >= X  ⟺  ns >= X*1000
  *   ns DIV 1000 >  X  ⟺  ns >= (X+1)*1000
  *   ns DIV 1000 <  X  ⟺  ns <  X*1000
  *   ns DIV 1000 <= X  ⟺  ns <  (X+1)*1000
  *   ns DIV 1000 =  X  ⟺  ns >= X*1000 AND ns < (X+1)*1000
  *
  * `DIV` truncates toward zero, so for *negative* ns the µs value rounds up
  * (ns=-500 → 0), which breaks the naive equivalences against literals at or
  * below the epoch (e.g. ns=-500 satisfies tsµ >= epoch-0 but fails ns >= 0).
  * For a strictly positive literal (us > 0) every form above is safe for ALL
  * ns — negative ns then falls on the same side of both inequalities — so the
  * rule only rewrites when `us > 0` and leaves epoch/pre-epoch literals
  * untouched (they keep correctness at the cost of pushdown, which no real
  * watermark hits).
  *
  * One of the [[graft.Engine]] rules. On a plain session
  * [[graft.Engine.ensure]] adds it to `spark.experimental.extraOptimizations`
  * (runs after the standard batches — by then PushDownPredicates has
  * already collapsed the filter through the normalizing Project, so the
  * rewritten conjuncts sit directly above the relation and
  * FileSourceStrategy pushes them); [[graft.GraftExtensions]] injects it
  * into the operator-optimization batch.
  */
object PushdownNanosTimestamp extends Rule[LogicalPlan] {

  /** Matches MicrosToTimestamp(ns DIV 1000) and returns the raw ns child. */
  private object MicrosOfNanos {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(d: IntegralDivide) =>
        (d.right, d.left.dataType) match {
          case (Literal(1000L, LongType), LongType) => Some(d.left)
          case _ => None
        }
      case _ => None
    }
  }

  private def nsLit(us: Long): Literal = Literal(us * 1000L, LongType)

  /** Strictly-positive µs literal — the only range where the truncating-DIV
    * equivalences hold for every ns (including pre-epoch negatives).
    */
  private object PosUs {
    def unapply(e: Expression): Option[Long] = e match {
      // Upper guard: (us+1)*1000 must not overflow Long (year ~294k µs range).
      case Literal(us: Long, TimestampType) if us > 0 && us < Long.MaxValue / 1000 - 1 => Some(us)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      f.copy(condition = cond.transformUp {
        case GreaterThanOrEqual(MicrosOfNanos(ns), PosUs(us)) =>
          GreaterThanOrEqual(ns, nsLit(us))
        case GreaterThan(MicrosOfNanos(ns), PosUs(us)) =>
          GreaterThanOrEqual(ns, nsLit(us + 1))
        case LessThan(MicrosOfNanos(ns), PosUs(us)) =>
          LessThan(ns, nsLit(us))
        case LessThanOrEqual(MicrosOfNanos(ns), PosUs(us)) =>
          LessThan(ns, nsLit(us + 1))
        case EqualTo(MicrosOfNanos(ns), PosUs(us)) =>
          And(GreaterThanOrEqual(ns, nsLit(us)), LessThan(ns, nsLit(us + 1)))
        // Mirrored literal-on-the-left forms:
        case LessThanOrEqual(PosUs(us), MicrosOfNanos(ns)) =>
          GreaterThanOrEqual(ns, nsLit(us))
        case LessThan(PosUs(us), MicrosOfNanos(ns)) =>
          GreaterThanOrEqual(ns, nsLit(us + 1))
        case GreaterThan(PosUs(us), MicrosOfNanos(ns)) =>
          LessThan(ns, nsLit(us))
        case GreaterThanOrEqual(PosUs(us), MicrosOfNanos(ns)) =>
          LessThan(ns, nsLit(us + 1))
      })
  }
}
