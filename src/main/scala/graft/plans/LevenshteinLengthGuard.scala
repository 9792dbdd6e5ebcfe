package graft.plans

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
  * One of the [[graft.Engine]] rules: injected by [[graft.GraftExtensions]],
  * installed on a live session by [[graft.Engine.ensure]].
  */
object LevenshteinLengthGuard extends Rule[LogicalPlan] with PredicateHelper {

  @scala.annotation.tailrec
  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  // The guard has the shape an optimizer batch leaves alone: a cast only
  // where k's type differs, and its place just ahead of the conjunct it
  // guards. An extensions session runs this rule inside the
  // operator-optimization batch, where SimplifyCasts stripped the no-op cast
  // (the stripped guard then failed the check below and was added again)
  // and filter inference prepends its isnotnull conjuncts; a plain session
  // runs it after both. In this shape both seams plan the guard alike.
  private def mkGuard(a: Expression, b: Expression, k: Literal, strict: Boolean): Expression = {
    val d = Abs(Subtract(Length(a), Length(b)))
    val diff = if (d.dataType == k.dataType) d else Cast(d, k.dataType)
    if (strict) LessThan(diff, k) else LessThanOrEqual(diff, k)
  }

  /** `cond` with each missing guard inserted just ahead of its threshold
    * conjunct, or None when none is missing. All four equivalent threshold
    * spellings are matched — `lev <= k`, `k >= lev`, and the strict
    * `lev < k` / `k > lev` (whose implied guard is itself strict:
    * lev ≥ |Δlen|, so lev < k ⟹ |Δlen| < k). The guard DUPLICATES the
    * levenshtein's argument expressions, so injection is skipped when
    * either argument is non-deterministic (e.g. rand-derived): evaluating
    * such an argument a second time would change filter semantics, not just
    * cost.
    */
  private def guarded(cond: Expression): Option[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def guardFor(levSide: Expression, k: Literal, strict: Boolean): Option[Expression] =
      stripCast(levSide) match {
        case lev: Levenshtein if lev.left.deterministic && lev.right.deterministic =>
          val g = mkGuard(lev.left, lev.right, k, strict)
          if (conjuncts.exists(_.semanticEquals(g))) None else Some(g)
        case _ => None
      }
    val withGuards = conjuncts.flatMap { c =>
      val g = c match {
        case LessThanOrEqual(l, k: Literal) => guardFor(l, k, strict = false)
        case GreaterThanOrEqual(k: Literal, r) => guardFor(r, k, strict = false)
        case LessThan(l, k: Literal) => guardFor(l, k, strict = true)
        case GreaterThan(k: Literal, r) => guardFor(r, k, strict = true)
        case _ => None
      }
      g.toSeq :+ c
    }
    if (withGuards.length == conjuncts.length) None else Some(withGuards.reduce(And))
  }

  // By the time the user-provided batch runs, PushDownPredicates has
  // usually folded the threshold filter into a JOIN condition (the blocked
  // entity-resolution shape) — so both Filter and Join conditions are
  // guarded.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) => guarded(cond).fold(f)(Filter(_, child))
    case j: org.apache.spark.sql.catalyst.plans.logical.Join if j.condition.isDefined =>
      guarded(j.condition.get).fold(j)(c => j.copy(condition = Some(c)))
  }
}
