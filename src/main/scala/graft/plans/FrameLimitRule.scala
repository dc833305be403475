package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Explode, Expression, If, IsNull, Least, LessThan, LessThanOrEqual,
  Literal, Sequence}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{FILTER, GENERATE}
import org.apache.spark.sql.types.LongType

/** Optimizer rule: push a `frame_idx < k` bound INTO the frame-index
  * sequence generator.
  *
  * Frame sampling explodes `sequence(0, n_frames - 1)` (one row per
  * media frame — [[graft.pipeline.Multimodal.frameSample]]). A common
  * downstream pattern is "first k frames only" (`frame_idx < k`), and
  * Spark cannot push that filter through the Generate: it materializes
  * EVERY frame row and then discards most of them. For hour-long
  * videos sampled at full rate that is orders of magnitude of wasted
  * generation at 100 TB scale. This rule rewrites the sequence upper
  * bound to `least(end, k-1)` so the excess rows are never produced;
  * the filter stays in place (now a cheap no-op), so the rewrite can
  * only reduce generated rows, never change results.
  *
  * Matched shape (deliberately narrow): a Filter of `genOut < lit k`
  * (or `<=`) directly over a Generate(Explode(...)) whose expression
  * tree contains `Sequence(0L, end, step = default)`, k > 0.
  */
object FrameLimitRule extends Rule[LogicalPlan] {

  private def bound(cond: Expression, genOut: Seq[Attribute]): Option[Long] = {
    def isGenOut(e: Expression): Boolean = e match {
      case a: Attribute => genOut.exists(_.exprId == a.exprId)
      case _            => false
    }
    cond match {
      case LessThan(a, Literal(k: Long, LongType)) if isGenOut(a) && k > 0 => Some(k)
      case LessThanOrEqual(a, Literal(k: Long, LongType)) if isGenOut(a) && k >= 0 =>
        Some(k + 1)
      case _ => None
    }
  }

  /** Fixpoint guard: stop once the sequence is already capped by a
    * literal at least as tight — the optimizer re-runs the batch until
    * the plan stops changing, and an unconditional wrap would add a
    * nested least() every iteration. Sees through the null-preserving
    * If(IsNull(stop), null, least(...)) wrapper this rule emits — and
    * ONLY that exact shape: a looser `case If(_, _, inner)` would treat
    * any user-written conditional whose else-branch happens to contain
    * a tight least() as already-capped and silently skip the pushdown. */
  private def alreadyBounded(stop: Expression, k: Long): Boolean = stop match {
    case If(IsNull(_), Literal(null, LongType), inner) => alreadyBounded(inner, k)
    case Least(children) => children.exists {
      case Literal(v: Long, LongType) => v <= k - 1
      case _                          => false
    }
    case _ => false
  }

  /** `least(stop, k-1)`, but null-preserving: Least SKIPS nulls, so on a
    * nullable stop a bare least() would turn a NULL bound (explode of
    * null sequence = zero rows) into k-1 and fabricate rows. Gate with
    * IsNull so a null bound still yields a null sequence. */
  private def cappedStop(stop: Expression, k: Long): Expression = {
    val capped = Least(Seq(stop, Literal(k - 1, LongType)))
    if (stop.nullable) If(IsNull(stop), Literal(null, LongType), capped)
    else capped
  }

  /** Every optimizer pass of every session runs this rule, so plans
    * without both a Filter and a Generate are never walked. */
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(FILTER, GENERATE)) {
      case f @ Filter(cond, g @ Generate(e: Explode, _, _, _, genOut, _)) =>
        bound(cond, genOut) match {
          case Some(k) =>
            val rewritten = e.transform {
              case seq @ Sequence(Literal(0L, LongType), stop, None, _)
                  if !alreadyBounded(stop, k) =>
                seq.copy(stop = cappedStop(stop, k))
            }.asInstanceOf[Explode]
            if (rewritten fastEquals e) f
            else f.copy(child = g.copy(generator = rewritten))
          case None => f
        }
    }
}
