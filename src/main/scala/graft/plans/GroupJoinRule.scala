package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, JOIN}

/** GroupJoin fusion as a Catalyst optimizer rule — the Spark-first
  * re-expression of the reference fork's GROUPJOIN operator + planner
  * hook (/root/reference/src/execution/operator/join/
  * physical_group_join.cpp, plan_group_join.cpp: "replace a plan
  * containing Group By followed by a Join").
  *
  * Rewrite: Aggregate(keys, aggs, Join(fact, dim)) →
  *          Project(Join(Aggregate(keys, aggs, fact), dim))
  * when the aggregation only touches the fact side and groups by the
  * join key. The join then sees |groups| rows instead of |fact| rows —
  * the same cardinality win the fused C++ operator gets, and at scale
  * the aggregate output usually broadcasts, deleting a shuffle.
  *
  * Correct only when the dim join key is unique (each group matches ≤ 1
  * dim row). Spark has no unique-key constraints, so the rule fires
  * only where uniqueness is structural: the dim side (possibly under an
  * attribute-only Project) is an Aggregate grouped by exactly the join
  * key. `Distinct` and `dropDuplicates` are such Aggregates by the time
  * this rule runs. Over a raw table or a UNION ALL the rule never fires.
  */
object GroupJoinRule extends Rule[LogicalPlan] {

  private def isAgg(e: Expression): Boolean =
    e.exists(_.isInstanceOf[AggregateExpression])

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(AGGREGATE, JOIN)) {
      // direct shape, and the common shape with a pruning Project in
      // between (column pruning runs before user-provided rules)
      case Aggregate(groupExprs, aggExprs,
          Join(left, right, Inner, Some(EqualTo(a: AttributeReference, b: AttributeReference)), hint),
          aggHint)
          if fusable(groupExprs, aggExprs, left, right, a, b) =>
        fuse(groupExprs, aggExprs, aggHint, left, right, a, b, hint)
      case Aggregate(groupExprs, aggExprs,
          Project(projList,
            Join(left, right, Inner, Some(EqualTo(a: AttributeReference, b: AttributeReference)), hint)),
          aggHint)
          if projList.forall(_.isInstanceOf[AttributeReference]) &&
            fusable(groupExprs, aggExprs, left, right, a, b) =>
        fuse(groupExprs, aggExprs, aggHint, left, right, a, b, hint)
    }

  private def fuse(
      groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
      aggHint: Option[org.apache.spark.sql.catalyst.plans.logical.AggregateHint],
      left: LogicalPlan, right: LogicalPlan,
      a: AttributeReference, b: AttributeReference,
      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint): LogicalPlan = {
    // The rewritten join condition references the left key — if the
    // select list doesn't project it (e.g. GROUP BY f.k with only
    // SUM(x) selected), append it to the pushed aggregate's output and
    // strip it again in the outer Project (otherwise the condition
    // binds to an attribute missing from both join children).
    val lk = if (left.outputSet.contains(a)) a else b
    val pushedAggs =
      if (aggExprs.exists(_.toAttribute.semanticEquals(lk))) aggExprs
      else aggExprs :+ lk
    val pushed = Aggregate(groupExprs, pushedAggs, left, aggHint)
    Project(
      aggExprs.map(_.toAttribute),
      Join(pushed, right, Inner, Some(EqualTo(a, b)), hint))
  }

  /** The dim side yields at most one row per `key`: an Aggregate
    * grouped by exactly `key`, seen through attribute-only Projects.
    */
  private def uniqueOn(dim: LogicalPlan, key: AttributeReference): Boolean = dim match {
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      uniqueOn(child, key)
    case Aggregate(Seq(g: AttributeReference), _, _, _) => g.semanticEquals(key)
    case _ => false
  }

  /** All group keys and aggregate inputs from the left (fact) side,
    * the left join key is one of the group keys, and the right (dim)
    * side is unique on its join key.
    */
  private def fusable(
      groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
      left: LogicalPlan, right: LogicalPlan,
      a: AttributeReference, b: AttributeReference): Boolean = {
    val leftKey =
      if (left.outputSet.contains(a) && right.outputSet.contains(b)) Some(a)
      else if (left.outputSet.contains(b) && right.outputSet.contains(a)) Some(b)
      else None
    leftKey.exists { lk =>
      uniqueOn(right, if (lk eq a) b else a) &&
      groupExprs.forall {
        case ar: AttributeReference => left.outputSet.contains(ar)
        case _ => false
      } &&
      groupExprs.exists { case ar: AttributeReference => ar.semanticEquals(lk) } &&
      aggExprs.forall {
        case Alias(child, _) if isAgg(child) =>
          child.references.subsetOf(left.outputSet)
        case ar: AttributeReference => left.outputSet.contains(ar)
        case other => !isAgg(other) && other.references.subsetOf(left.outputSet)
      }
    }
  }
}
