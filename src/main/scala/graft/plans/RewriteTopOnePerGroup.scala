package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (SURVEY.md §4 deliverable): rewrite the ubiquitous
  * "top-1 per group" window pattern
  *
  * {{{ Filter(rn = 1, Window(rn <- row_number() OVER (PARTITION BY p ORDER BY o), child)) }}}
  *
  * into a single `min_by`/`max_by` aggregation. The window form costs
  * a full-width shuffle of *every* row plus a per-partition sort; the
  * aggregate form ships one pre-aggregated row per (mapper, group) —
  * at 100 TB that is the difference between shuffling the stream and
  * shuffling the groups (see `Relational.latestPerGroup`, the
  * hand-written version of the same plan). The aggregation is a
  * `SortAggregate`, not a hash one: the struct buffer of `max_by`
  * has no hash-mutable form, so a `Sort` runs on each side of the
  * exchange (after it, over the pre-aggregated rows only).
  *
  * Fires only when the rewrite is provably equivalent:
  *  - the filter is exactly `rn = 1` (or `1 = rn` / `rn <= 1`) on the
  *    lone row_number window expression;
  *  - partition keys are plain attributes;
  *  - order keys are non-nullable attributes with homogeneous
  *    direction and default null ordering (struct comparison is
  *    lexicographic-ascending; mixed directions or nullable keys
  *    change tie/null semantics);
  *  - under exact order-key ties both forms are partition-order
  *    non-deterministic, so no determinism is lost.
  *
  * Registered through [[GraftExtensions]]
  * (`SparkSession.builder.withExtensions`).
  */
object RewriteTopOnePerGroup extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) =>
      tryRewrite(cond, w).getOrElse(f)
    case f @ Filter(cond, p @ Project(projectList, w: Window))
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      // withColumn-style plans put a pass-through Project between
      // Filter and Window; keep it, rewrite beneath.
      tryRewrite(cond, w)
        .map(agg => Project(projectList, agg))
        .getOrElse(f)
  }

  private def tryRewrite(cond: Expression, w: Window): Option[LogicalPlan] = w match {
    case Window(Seq(alias @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(_, orderSpec, _)), _)), partitionSpec, _, child, _)
        if isRnEqOne(cond, alias.toAttribute)
          && partitionSpec.nonEmpty
          && partitionSpec.forall(_.isInstanceOf[AttributeReference])
          && orderSpec.nonEmpty
          && orderSpec.forall(so => so.child.isInstanceOf[AttributeReference]
            && !so.child.nullable
            && so.nullOrdering == so.direction.defaultNullOrdering)
          && (orderSpec.forall(_.direction == Ascending)
            || orderSpec.forall(_.direction == Descending)) =>
      val partitionAttrs = partitionSpec.map(_.asInstanceOf[AttributeReference])
      val orderAttrs = orderSpec.map(_.child.asInstanceOf[AttributeReference])
      val payloadAttrs = child.output.filterNot(a =>
        partitionAttrs.exists(_.exprId == a.exprId))
      val ordKey = CreateStruct(orderAttrs)
      val payload = CreateStruct(payloadAttrs)
      val pick = if (orderSpec.head.direction == Ascending) MinBy(payload, ordKey)
                 else MaxBy(payload, ordKey)
      val pickAlias = Alias(
        AggregateExpression(pick, Complete, isDistinct = false), "__top1")()
      val agg = Aggregate(partitionAttrs, partitionAttrs :+ pickAlias, child)
      // Rebuild the window's output schema with the ORIGINAL exprIds
      // so parent operators still resolve: pass through partition
      // attrs, extract payload fields, constant-fold rn to 1.
      val restored = w.output.map { out =>
        if (partitionAttrs.exists(_.exprId == out.exprId)) out
        else if (out.exprId == alias.exprId)
          Alias(Literal(1), alias.name)(exprId = alias.exprId)
        else {
          val idx = payloadAttrs.indexWhere(_.exprId == out.exprId)
          if (idx < 0) return None
          Alias(GetStructField(pickAlias.toAttribute, idx, Some(payloadAttrs(idx).name)),
            out.name)(exprId = out.exprId)
        }
      }
      Some(Project(restored, agg))
    case _ => None
  }

  private def isRnEqOne(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: AttributeReference, Literal(1, _)) => a.exprId == rn.exprId
    case EqualTo(Literal(1, _), a: AttributeReference) => a.exprId == rn.exprId
    case LessThanOrEqual(a: AttributeReference, Literal(1, _)) => a.exprId == rn.exprId
    case _ => false
  }
}

/** Session extensions: inject graft's optimizer rules.
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(_ => RewriteTopOnePerGroup)
}
