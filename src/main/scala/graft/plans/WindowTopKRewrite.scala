package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, PredicateHelper, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the universal top-k idiom
  *
  * {{{
  * df.withColumn("rn", row_number().over(Window.partitionBy(k...).orderBy(s...)))
  *   .filter($"rn" <= k)
  * }}}
  *
  * into [[TopKPerKeyNode]] below the Window, so the bounded-heap operator
  * reduces every key group to k rows BEFORE the shuffle and the window's
  * sort — users writing the standard window-dedup/ranking pattern get the
  * O(n log k) partial+final heap plan without calling the [[TopKPerKey]]
  * API.
  *
  * Relation to Spark's own `InferWindowGroupLimit` (SPARK-37099), which
  * fires on the same shape and inserts a `WindowGroupLimit` under the
  * Window: Spark's partial `WindowGroupLimitExec` needs its input sorted
  * by (partition, order) — a full O(n log n) local sort of every upstream
  * partition — to stream off the first k per key. The heap operator needs
  * no sort at all (O(n log k) comparisons, O(keys × k) state, spill-safe
  * fallback), so this rule REPLACES an inferred `WindowGroupLimit` child
  * when it sees one. `GraftExtensions` injects this rule as a pre-CBO
  * rule, which runs after `InferWindowGroupLimit`, so the matcher
  * handles both the raw `Filter(Window(child))` shape and the
  * already-inferred `Filter(Window(WindowGroupLimit(child)))` shape.
  *
  * Safety conditions (all required):
  *  - the Window computes EXACTLY ONE window expression, and it is
  *    `row_number()` — any co-computed window function would see the
  *    reduced groups and change value; rank()/dense_rank() keep MORE than
  *    k rows under ties, which a k-bounded heap cannot honor;
  *  - the filter has a conjunct bounding that row_number attribute by an
  *    integer literal (`<=`, `<`, `=`, or the flipped forms);
  *  - partition and order expressions are deterministic and non-empty
  *    (an empty partition spec is a global limit — Spark already plans
  *    that shape as TakeOrderedAndProject).
  *
  * The original Filter stays on top: row_number is recomputed over the
  * surviving k-per-key rows (identical values — the survivors are exactly
  * the rows with rn <= k), so any extra conjuncts and the rank column in
  * the output are preserved bit-for-bit.
  */
object WindowTopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Rewrites with k above this are left to the window formulation: a
    * giant k means heaps approach full materialization anyway and the
    * sort-based shape is no worse.
    */
  private def maxK: Int =
    graft.GraftConf.int(conf, "spark.graft.topk.rewriteMaxK", 100000)

  private def limitFor(rn: ExprId, conjunct: Expression): Option[Int] =
    conjunct match {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k)
      case LessThan(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k - 1)
      case EqualTo(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k)
      case GreaterThanOrEqual(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k)
      case GreaterThan(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k - 1)
      case EqualTo(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
          partitionSpec, orderSpec, wChild, _))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty &&
          partitionSpec.forall(_.deterministic) &&
          orderSpec.forall(_.deterministic) =>
      val limits = splitConjunctivePredicates(cond).flatMap(limitFor(alias.exprId, _))
      if (limits.isEmpty || limits.min < 1 || limits.min > maxK) f
      else {
        val k = limits.min
        // The TopKPerKeyNode guard makes the rule idempotent (the
        // rewritten plan matches this case again), as Spark requires of a
        // rule in a run-once batch such as the pre-CBO one. An
        // already-inferred WindowGroupLimit is stripped ONLY when it is the exact shape this rule subsumes —
        // row_number semantics keeping at least k rows per key; a stricter
        // or rank-like group limit prunes a different row set, so any other
        // WindowGroupLimit disables the rewrite rather than being dropped.
        wChild match {
          case WindowGroupLimit(_, _, _: RowNumber, limit, c)
              if limit >= k && !c.isInstanceOf[TopKPerKeyNode] =>
            f.copy(child = w.copy(child =
              TopKPerKeyNode(k, partitionSpec, orderSpec, c)))
          case _: WindowGroupLimit => f
          case c if !c.isInstanceOf[TopKPerKeyNode] =>
            f.copy(child = w.copy(child =
              TopKPerKeyNode(k, partitionSpec, orderSpec, c)))
          case _ => f
        }
      }
  }
}
