package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, Limit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{JOIN, LIMIT, SORT}
import org.apache.spark.sql.internal.SQLConf

/** Take a top-k BEFORE the left-outer joins under it.
  *
  * A config root is a parent→child link-join tree that ends in
  * `order_by` + `limit`: `Limit(k, Sort(order, Project*(Join(l, r,
  * LeftOuter))))`. Catalyst keeps the top-k above the whole join chain,
  * so every parent row is shuffled and joined just to keep k of them
  * (Spark's own LimitPushDown pushes a bare limit into a left-outer
  * join's left side, but not a sort + limit).
  *
  * Rewrite: also place `Limit(k, Sort(order))` on the left side of the
  * DEEPEST left-outer join whose left side produces every sort key,
  * descending through deterministic Projects (a key renamed by an
  * attribute alias is followed through it) and stacked left-outer
  * joins. The outer `Limit(Sort)` stays, so the root still plans as
  * TakeOrderedAndProject.
  *
  * Exact without any uniqueness: a left-outer join yields ≥1 output
  * row per left row, carrying that row's sort key unchanged, so the
  * output's top k by the key come from the left side's top k. With ties
  * both plans return a valid top-k, not necessarily the same rows.
  *
  * Guards:
  *  - fires only through LeftOuter joins — an inner, semi or anti join
  *    can drop a top-k left row, and full / right joins add rows whose
  *    left keys are null;
  *  - every sort key must be deterministic and resolve to the left
  *    side's own attributes (a key from the right side stops the walk);
  *  - at least one left-outer join must be crossed: placing the top-k
  *    under bare Projects alone makes the optimizer's fixed point
  *    oscillate against the projection-pushing rules;
  *  - not when the insertion point already has `maxRows <= k` — this
  *    is what keeps the rule idempotent;
  *  - not on streaming plans, and only when k is below
  *    `spark.sql.execution.topKSortFallbackThreshold`, so the placed
  *    top-k plans as TakeOrderedAndProject, never as a full sort.
  */
object PushTopKBelowLeftOuterJoin extends Rule[LogicalPlan] {

  /** Rewrite each sort key through one projection layer: a pass-through
    * attribute or a plain attribute alias (a rename) maps to the
    * layer's input attribute; a computed key aborts, since it does not
    * exist below the layer. */
  private def throughProject(order: Seq[SortOrder],
                             list: Seq[NamedExpression]): Option[Seq[SortOrder]] = {
    val byId = list.map(ne => ne.exprId -> ne).toMap
    def input(a: Attribute): Option[Attribute] = byId.get(a.exprId).collect {
      case b: Attribute => b
      case Alias(b: Attribute, _) => b
    }
    if (!order.forall(_.references.forall(input(_).isDefined))) None
    else Some(order.map(_.transformUp { case a: Attribute => input(a).get }
      .asInstanceOf[SortOrder]))
  }

  /** `p` rebuilt with `top` applied on the left side of its deepest
    * left-outer join that carries the keys; None when there is none. */
  private def place(p: LogicalPlan, order: Seq[SortOrder],
                    top: (Seq[SortOrder], LogicalPlan) => LogicalPlan): Option[LogicalPlan] =
    p match {
      case pr @ Project(list, child) if list.forall(_.deterministic) =>
        throughProject(order, list).flatMap(place(child, _, top)).map(c => pr.copy(child = c))
      case j @ Join(left, _, LeftOuter, _, _)
          if order.forall(_.references.subsetOf(left.outputSet)) =>
        Some(j.copy(left = place(left, order, top).getOrElse(top(order, left))))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformDownWithPruning(_.containsAllPatterns(LIMIT, SORT, JOIN)) {
      case l @ Limit(le @ IntegerLiteral(k), s @ Sort(order, true, child, _))
          if order.forall(_.deterministic) &&
            k < SQLConf.get.topKSortFallbackThreshold =>
        def top(o: Seq[SortOrder], left: LogicalPlan): LogicalPlan =
          if (left.maxRows.exists(_ <= k)) left
          else Limit(le, Sort(o, global = true, left))
        place(child, order, top) match {
          // Limit(le, …) rebuilds BOTH the global and the local limit;
          // copying the GlobalLimit alone would drop the LocalLimit and
          // plan the root as a range-sampled global sort
          case Some(c) if !c.fastEquals(child) => Limit(le, s.copy(child = c))
          case _ => l
        }
    }
}
