package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, First, Last}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW_EXPRESSION
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

import graft.operators.{ExcludeAgg, FrameAgg, FrameSizeGuard, WindowExclude}
import graft.operators.WindowExclude._

/** A window whose frame Spark's grammar rejects, as the dialect marks
  * it: `graft_window(<call> OVER (<PARTITION/ORDER part>),
  * '<call name>', '<ROWS|RANGE>', '<lower kind>', <lower offset>,
  * '<upper kind>', <upper offset>, '<CURRENT ROW|GROUP|TIES|>')`.
  * Never resolved: [[WindowFrameRule]] replaces it once the inner
  * window is, and a plan that still holds it fails analysis.
  */
case class WindowFrameMark(children: Seq[Expression]) extends Expression with Unevaluable {
  override lazy val resolved: Boolean = false
  override def nullable: Boolean = true
  override def dataType: DataType = children.head.dataType
  override def prettyName: String = "graft_window"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): WindowFrameMark =
    copy(children = c)
}

/** Window frames Spark's parser rejects — EXCLUDE CURRENT ROW / GROUP /
  * TIES (the reference's window_segment_tree exclusion) and ROWS
  * offsets evaluated per row (test/sql/window/test_boundary_expr.test)
  * — planned from the resolved window the dialect marked (named
  * windows arrive inlined). Spark has resolved the call; the marker is
  * replaced by plain window expressions over the same partition and
  * order, which Spark then extracts into one Window operator per spec:
  *
  *  - an EXCLUDE the algebra serves: operators/WindowExclude;
  *  - every other EXCLUDE and every per-row offset: the frame (or, for
  *    per-row offsets, the partition, sliced per row) collected as
  *    (order keys…, value) structs under FrameSizeGuard, reduced by
  *    ExcludeAgg or FrameAgg (operators/FrameAgg);
  *  - otherwise the window with the written frame.
  *
  * LEAD, LAG and the ranking functions keep their own frame: frame and
  * exclusion do not apply to them. FILTER arrives folded into the
  * argument by the dialect; IGNORE NULLS is read from the resolved call.
  */
object WindowFrameRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(WINDOW_EXPRESSION)) plan
    else plan.resolveOperatorsUpWithPruning(_.containsPattern(WINDOW_EXPRESSION)) {
      case p => p.transformExpressionsUpWithPruning(_.containsPattern(WINDOW_EXPRESSION)) {
        case m: WindowFrameMark if m.childrenResolved => frame(m)
      }
    }

  private def frame(m: WindowFrameMark): Expression = {
    val Seq(window: WindowExpression, nameE, unitE, loKindE, lo, hiKindE, hi, excludeE) = m.children
    def str(e: Expression): String = e.eval().toString
    val Seq(name, unit, loKind, hiKind) = Seq(nameE, unitE, loKindE, hiKindE).map(str)
    val exclude = str(excludeE) match {
      case "CURRENT ROW" => Some(ExcludeCurrentRow)
      case "GROUP" => Some(ExcludeGroup)
      case "TIES" => Some(ExcludeTies)
      case _ => None
    }
    val spec = window.windowSpec
    val frameType = unit match {
      case "ROWS" => RowFrame
      case "RANGE" => RangeFrame
      case u => throw new IllegalArgumentException(s"$u window frames are not supported")
    }
    def bound(kind: String, offset: Expression): Expression = kind match {
      case "UNBOUNDED PRECEDING" => UnboundedPreceding
      case "UNBOUNDED FOLLOWING" => UnboundedFollowing
      case "CURRENT ROW" => CurrentRow
      case _ if offset.foldable && offset.eval() == 0 => CurrentRow
      case "PRECEDING" => UnaryMinus(offset)
      case "FOLLOWING" => offset
    }
    val written = SpecifiedWindowFrame(frameType, bound(loKind, lo), bound(hiKind, hi))
    // Spark's ROWS frames take INT constants; every other offset is
    // evaluated per row
    val perRow = unit == "ROWS" && Seq(loKind -> lo, hiKind -> hi).exists { case (k, e) =>
      !k.contains(' ') && !(e.foldable && e.dataType == IntegerType)
    }
    val (f, ignoreNulls) = window.windowFunction match {
      case AggregateExpression(f, _, _, _, _) => (f, f match {
        case First(_, ignore) => ignore
        case Last(_, ignore) => ignore
        case _ => false
      })
      case f: NthValue => (f, f.ignoreNulls)
      case f => (f, false)
    }
    val over = Over(spec.partitionSpec, spec.orderSpec)
    lazy val (kernel, x, q) = kernelOf(name, f, ignoreNulls)
    // the rows the kernels read: (order keys…, value), the value last
    def row(keys: Seq[Expression]): Expression = CreateNamedStruct(
      keys.zipWithIndex.flatMap { case (k, i) => Seq(Literal(s"k$i"), k) } ++ Seq(Literal("v"), x))
    def collect(row: Expression, frame: WindowFrame): Expression = FrameSizeGuard(WindowExpression(
      CollectList(row).toAggregateExpression(), spec.copy(frameSpecification = frame)))
    def excluded(rows: Expression, row: Expression, e: Exclude): Expression = ExcludeAgg(rows, row,
      Literal(e match {
        case ExcludeCurrentRow => "current"
        case ExcludeGroup => "group"
        case ExcludeTies => "ties"
      }), Literal(kernel), q)
    f match {
      case w: WindowFunction if w.frame != UnspecifiedFrame => window
      case _ if perRow =>
        // the partition collected once, each row slicing its own frame
        val r = row(if (exclude.isEmpty) Nil else spec.orderSpec.map(_.child))
        val all = collect(r, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))
        val rn = WindowExpression(RowNumber(),
          spec.copy(frameSpecification = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)))
        val n = Size(all)
        def at(kind: String, offset: Expression): Expression = kind match {
          case "UNBOUNDED PRECEDING" => Literal(1)
          case "UNBOUNDED FOLLOWING" => n
          case "CURRENT ROW" => rn
          case "PRECEDING" => Subtract(rn, offset)
          case "FOLLOWING" => Add(rn, offset)
        }
        val start = Greatest(Seq(at(loKind, lo), Literal(1)))
        val end = Least(Seq(at(hiKind, hi), n))
        val slice = Slice(all, Cast(Least(Seq(start, n)), IntegerType),
          Greatest(Seq(Cast(Add(Subtract(end, start), Literal(1)), IntegerType), Literal(0))))
        exclude.fold[Expression](FrameAgg(slice, Literal(kernel), q))(excluded(slice, r, _))
      case _ if exclude.isEmpty => window.copy(windowSpec = spec.copy(frameSpecification = written))
      case _ =>
        val e = exclude.get
        val holds = algebraHolds(written, spec.orderSpec.nonEmpty, e)
        (name, f) match {
          case ("sum", _) if holds => WindowExclude.sum(x, written, over, e)
          case ("avg", _) if holds => WindowExclude.avg(x, written, over, e)
          case ("count", _) if holds => WindowExclude.count(x, written, over, e)
          case ("min" | "max", _) if holds && e == ExcludeCurrentRow && unit == "ROWS" =>
            minMaxExcludeCurrentRow(x, name == "min", written.lower, written.upper, over)
          case ("first_value" | "last_value", a: aggregate.AggregateFunction)
              if holds && e == ExcludeCurrentRow && !ignoreNulls && unit == "ROWS" =>
            edgeExcludeCurrentRow(a, name == "first_value", written, over)
          case _ =>
            val r = row(spec.orderSpec.map(_.child))
            excluded(collect(r, written), r, e)
        }
    }
  }

  /** The collected-frame kernel (FrameKernel.fns) for a call by its
    * name as translated, with its value and its constant argument.
    */
  private def kernelOf(name: String, f: Expression,
      ignoreNulls: Boolean): (String, Expression, Expression) = {
    val args = f.children
    def q = Cast(args(1), DoubleType)
    def in(base: String) = if (ignoreNulls) base + "_in" else base
    val none = Literal(null, DoubleType)
    name match {
      case "sum" => ("sum", args.head, none)
      case "avg" | "mean" => ("avg", args.head, none)
      case "count" => ("count", args.head, none)
      case "min" => ("min", args.head, none)
      case "max" => ("max", args.head, none)
      case "median" => ("median", args.head, none)
      case "mode" => ("mode", args.head, none)
      case "mad" => ("mad", args.head, none)
      case "quantile_cont" | "percentile" => ("quantile_cont", args.head, q)
      case "quantile_disc" | "quantile" => ("quantile_disc", args.head, q)
      case "stddev" | "stddev_samp" => ("stddev", args.head, none)
      case "var_samp" | "variance" => ("var_samp", args.head, none)
      case "first_value" | "first" => (in("first"), args.head, none)
      case "last_value" | "last" => (in("last"), args.head, none)
      case "nth_value" => (in("nth"), args.head, q)
      // COUNT(DISTINCT x) OVER is translated to collect_set: the
      // kernel's sorted distinct set feeds the surrounding size()
      case "collect_set" => ("collect_set", args.head, none)
      case "array_agg" | "collect_list" | "list" => ("array_agg", args.head, none)
      case other => throw new IllegalArgumentException(
        s"window frame kernel: unsupported aggregate $other")
    }
  }
}
