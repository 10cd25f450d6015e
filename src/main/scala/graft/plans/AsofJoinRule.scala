package graft.plans

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, Join, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.functions.{lit, struct}
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.operators.Joins

/** The ON condition of an ASOF join as the dialect marks it,
  * `graft_asof(<condition>)`. [[AsofJoinRule]] replaces every marked
  * join while the plan is analyzed; a marker that still reaches
  * execution fails there instead of running as a plain inequality
  * join.
  */
case class AsofCondition(child: Expression) extends UnaryExpression with Unevaluable {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_asof"
  override protected def withNewChildInternal(c: Expression): AsofCondition = copy(child = c)
}

/** `ASOF [LEFT|RIGHT|SEMI|ANTI] JOIN` as a Catalyst join (the
  * reference's JoinRefType::ASOF, transform_join.cpp). The dialect
  * leaves the join in the statement with its condition marked;
  * Catalyst resolves the sides, qualifiers, column collisions and
  * nesting as for any join, and this rule then replaces the resolved
  * `Join` with the union-and-window plan of [[Joins.asofJoin]]: one
  * shuffle on the key, one sort, no pair space — the
  * partition-by-key, sort-by-time shape of the reference's
  * physical_asof_join.cpp. A SEMI or ANTI join keeps its condition
  * unmarked: a left row has an ASOF match exactly when some right row
  * satisfies it.
  *
  * The condition's conjuncts are equalities between a left-only and a
  * right-only expression (the key) and exactly one inequality
  * (`>=`/`>` match backward, `<=`/`<` forward), flipped when written
  * right side first; anything else raises, as the reference's binder
  * does. The replacement's output is the join's own column list, both
  * sides' columns kept even where their names collide; its attributes
  * are new, and the parents are re-pointed at them.
  */
case class AsofJoinRule(session: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(JOIN)) plan
    else plan.transformUpWithNewOutput({
      case j @ Join(l, r, LeftSemi | LeftAnti, Some(AsofCondition(cond)), _) =>
        conjuncts(l, r, cond)
        j.copy(condition = Some(cond)) -> Nil
      case j @ Join(l, r, jt, Some(AsofCondition(cond)), _) =>
        val out = asof(l, r, jt, cond)
        out -> j.output.zip(out.output)
    }, skipCond = !_.containsPattern(JOIN))

  /** The key pairs and the one time pair of an ASOF condition, each
    * as (left expression, right expression, operator read left to
    * right). */
  private def conjuncts(l: LogicalPlan, r: LogicalPlan, cond: Expression)
      : (Seq[(Expression, Expression, String)], (Expression, Expression, String)) = {
    def of(e: Expression, side: LogicalPlan) =
      e.references.nonEmpty && e.references.subsetOf(side.outputSet)
    val (keys, times) = splitConjunctivePredicates(cond).map {
      case p: BinaryComparison if Ops(p.symbol) && of(p.left, l) && of(p.right, r) =>
        (p.left, p.right, p.symbol)
      case p: BinaryComparison if Ops(p.symbol) && of(p.right, l) && of(p.left, r) =>
        (p.right, p.left, flip(p.symbol))
      case c => throw new IllegalArgumentException(
        s"Unsupported ASOF JOIN condition: ${c.sql} does not compare the two sides")
    }.partition(_._3 == "=")
    require(times.nonEmpty, "Missing ASOF JOIN inequality")
    require(times.size == 1, "Multiple ASOF JOIN inequalities")
    (keys, times.head)
  }

  private val Ops = Set("=", ">=", ">", "<=", "<")

  private def asof(l: LogicalPlan, r: LogicalPlan, jt: JoinType, cond: Expression): LogicalPlan = {
    require(Seq(Inner, LeftOuter, RightOuter).contains(jt), s"ASOF ${jt.sql} JOIN is not supported")
    val (keys, (lTime, rTime, dir)) = conjuncts(l, r, cond)
    // positional names: a side may repeat a name, or share one with the
    // other side, and Joins.asofJoin addresses columns by name
    val lCols = l.output.zipWithIndex.map { case (a, i) => Alias(a, s"__l$i")() }
    val rCols = r.output.zipWithIndex.map { case (a, i) => Alias(a, s"__r$i")() }
    val named = AttributeMap((l.output ++ r.output).zip((lCols ++ rCols).map(_.toAttribute)))
    def on(e: Expression): Column = GraftBridge.columnOf(e.transform { case a: Attribute => named(a) })
    // positional struct field names: the union inside asofJoin matches
    // struct fields by name, and the two sides' key expressions differ
    def key(ks: Seq[Expression]): Column =
      if (ks.isEmpty) lit(0)
      else struct(ks.zipWithIndex.map { case (e, i) => on(e).as(s"_k$i") }: _*)
    // a CTE reference resolves only under its WITH, which lies above
    // this join: a stand-in carries it through the side frames' own
    // analysis
    def frame(cols: Seq[NamedExpression], side: LogicalPlan) =
      GraftBridge.ofRows(session, Project(cols, side.transformUpWithSubqueries {
        case ref: CTERelationRef => CteStandIn(ref, ref.output)
      }))
    val joined = Joins.asofJoin(frame(lCols, l), frame(rCols, r),
      key(keys.map(_._1)), key(keys.map(_._2)), on(lTime), on(rTime), rCols.map(_.name),
      direction = dir, leftOuter = jt == LeftOuter, rightOuter = jt == RightOuter)
    val out = GraftBridge.logicalPlan(joined).transformUpWithSubqueries {
      case s: CteStandIn => s.ref.copy(output = s.output)
    }
    Project(out.output.zip(l.output ++ r.output).map { case (o, a) =>
      Alias(o, a.name)(qualifier = a.qualifier, explicitMetadata = Some(a.metadata))
    }, out)
  }

  private def flip(op: String): String = op match {
    case ">=" => "<="
    case "<=" => ">="
    case ">" => "<"
    case "<" => ">"
    case "=" => "="
  }
}

/** A CTE reference while an ASOF join's sides are analyzed on their
  * own, away from the WITH that defines it. A copy the analyzer makes
  * for a second use of the same side keeps the reference; the rule
  * swaps every stand-in back before the plan leaves it.
  */
private case class CteStandIn(ref: CTERelationRef, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = ref.stats
}
