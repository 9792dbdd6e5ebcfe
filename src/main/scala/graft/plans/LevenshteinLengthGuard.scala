package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: in front of every `levenshtein(a, b) <= k` predicate,
  * inject the implied cheap guard `abs(length(a) - length(b)) <= k`.
  *
  * The implication is a theorem, not a heuristic: each unit of length
  * difference costs at least one insertion/deletion, so
  * `levenshtein(a, b) >= |len(a) - len(b)|` always — the guard can never
  * reject a row the original predicate would keep. What it buys is
  * short-circuit order: the conjunction evaluates the O(1) length
  * comparison first and runs the O(|a|·|b|) dynamic program only on rows
  * that survive, which at 100 TB of blocked entity-resolution pairs is the
  * difference between DP-ing every candidate in a block and DP-ing the
  * few length-compatible ones. (Spark's own Levenshtein threshold variant
  * prunes INSIDE the DP; this prunes before entering it, and also hands
  * min/max-length zone-map pruning a usable predicate.)
  *
  * Idempotent by construction (required: the user-provided optimizer batch
  * runs to fixpoint): conjuncts are split, and a guard is added only if no
  * semantically-equal conjunct is already present.
  *
  * Registered via [[GraftExtensions]] for extensions sessions and
  * installable on a live session via [[install]] (same
  * `experimental.extraOptimizations` route as [[PushdownNanosTimestamp]]).
  */
object LevenshteinLengthGuard extends Rule[LogicalPlan] with PredicateHelper {

  @scala.annotation.tailrec
  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  private def mkGuard(a: Expression, b: Expression, k: Literal, strict: Boolean): Expression = {
    val diff = Cast(Abs(Subtract(Length(a), Length(b))), k.dataType)
    if (strict) LessThan(diff, k) else LessThanOrEqual(diff, k)
  }

  /** Guards to prepend to `cond`'s conjunction, if any are missing. All four
    * equivalent threshold spellings are matched — `lev <= k`, `k >= lev`,
    * and the strict `lev < k` / `k > lev` (whose implied guard is itself
    * strict: lev ≥ |Δlen|, so lev < k ⟹ |Δlen| < k). The guard DUPLICATES
    * the levenshtein's argument expressions, so injection is skipped when
    * either argument is non-deterministic (e.g. rand-derived): evaluating
    * such an argument a second time would change filter semantics, not just
    * cost.
    */
  private def guards(cond: Expression): Seq[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def guardFor(levSide: Expression, k: Literal, strict: Boolean): Option[Expression] =
      stripCast(levSide) match {
        case lev: Levenshtein if lev.left.deterministic && lev.right.deterministic =>
          val g = mkGuard(lev.left, lev.right, k, strict)
          if (conjuncts.exists(_.semanticEquals(g))) None else Some(g)
        case _ => None
      }
    conjuncts.flatMap {
      case LessThanOrEqual(l, k: Literal) => guardFor(l, k, strict = false)
      case GreaterThanOrEqual(k: Literal, r) => guardFor(r, k, strict = false)
      case LessThan(l, k: Literal) => guardFor(l, k, strict = true)
      case GreaterThan(k: Literal, r) => guardFor(r, k, strict = true)
      case _ => None
    }
  }

  // By the time the user-provided batch runs, PushDownPredicates has
  // usually folded the threshold filter into a JOIN condition (the blocked
  // entity-resolution shape) — so both Filter and Join conditions are
  // guarded.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val add = guards(cond)
      if (add.isEmpty) f else Filter((add :+ cond).reduce(And), child)
    case j: org.apache.spark.sql.catalyst.plans.logical.Join if j.condition.isDefined =>
      val add = guards(j.condition.get)
      if (add.isEmpty) j
      else j.copy(condition = Some((add :+ j.condition.get).reduce(And)))
  }

  /** Idempotent per-session install (mirrors [[PushdownNanosTimestamp.install]]). */
  def install(spark: SparkSession): Unit = SessionRules.addOptimization(spark, this)
}
