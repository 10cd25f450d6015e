package graft.operators

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Count, Max, Min, Sum}
import org.apache.spark.sql.types.DoubleType

/** Window frame EXCLUDE (CURRENT ROW | GROUP | TIES) — the stock
  * SQL:2011 frame-exclusion surface the reference ships
  * (/root/reference/src/execution/window_segment_tree.cpp's
  * WindowExcludePart; exercised by its window tests) and Spark's
  * window operator lacks. This is the one EXCLUDE algebra: the SQL
  * path (plans/WindowFrameRule) and q55's hand plan both call it.
  *
  * Implemented as ALGEBRAIC REWRITES over stock window aggregates, not
  * a forked window exec: for an aggregate with an inverse (SUM, COUNT,
  * AVG) the excluded part is computed as its own window aggregate and
  * subtracted; for MIN/MAX (no inverse) the frame is SPLIT around the
  * current row and recombined with least/greatest; FIRST_VALUE and
  * LAST_VALUE shift the frame edge that is the current row. Every
  * helper emits plain Catalyst window expressions over the SAME
  * partition/order ([[Over]]), so Spark evaluates all of them in ONE
  * window pass (one exchange + one sort) — the rewrite adds columns,
  * never stages. That is exactly the scale posture of the reference's
  * segment-tree implementation: one sorted pass per (partition, order)
  * spec regardless of how many exclusion variants are projected.
  *
  * NULL semantics match SQL: the aggregate over an empty-after-
  * exclusion frame is NULL (not 0), and NULL inputs don't count —
  * handled by tracking the non-null COUNT of the exclusion alongside
  * its SUM.
  *
  * Each helper is valid only when the frame CONTAINS what it
  * subtracts ([[algebraHolds]]): the current row for EXCLUDE CURRENT
  * ROW, its whole peer group for GROUP/TIES (a bounded ROWS frame can
  * cut the group). WindowFrameRule routes every other frame to the
  * collected-frame kernels (operators/FrameAgg); the DataFrame entry
  * points take a [[Frame]] descriptor and reject such frames at call
  * time. For
  * bounded ROWS frames with duplicate order keys the caller must still
  * order by a tie-breaking key (which also makes the ROWS frame itself
  * deterministic — without that, bounded-ROWS results are
  * order-dependent in ANY engine, exclusion or not).
  */
object WindowExclude {

  /** Frame-exclusion modes, mirroring SQL:2011 / the reference's
    * window clause. NO OTHERS is the identity (stock Spark).
    */
  sealed trait Exclude
  case object ExcludeCurrentRow extends Exclude
  case object ExcludeGroup extends Exclude
  case object ExcludeTies extends Exclude

  /** The partition and order of one window: every frame an exclusion
    * needs is built over it, so all of them share one sort.
    */
  final case class Over(part: Seq[Expression], order: Seq[SortOrder]) {
    def apply(f: AggregateFunction, frame: WindowFrame): Expression =
      WindowExpression(f.toAggregateExpression(), WindowSpecDefinition(part, order, frame))
    /** The current row's peer group: the rows sharing its ORDER BY
      * values. RANGE bounds never split it.
      */
    def peers(f: AggregateFunction): Expression =
      apply(f, SpecifiedWindowFrame(RangeFrame, CurrentRow, CurrentRow))
  }

  /** Whether `frame` holds what `exclude` subtracts: the current row,
    * or for GROUP/TIES its whole peer group, which needs an ORDER BY
    * and RANGE bounds (they never split a peer group; bounded ROWS
    * bounds can). Bounds are written as Spark's parser writes them:
    * `n PRECEDING` is `-(n)`, `n FOLLOWING` is `n`.
    */
  def algebraHolds(frame: SpecifiedWindowFrame, ordered: Boolean, exclude: Exclude): Boolean = {
    val holdsRow = (frame.lower match {
      case UnboundedPreceding | CurrentRow | UnaryMinus(_, _) => true
      case _ => false
    }) && (frame.upper match {
      case UnboundedPreceding | UnaryMinus(_, _) => false
      case _ => true
    })
    exclude match {
      case ExcludeCurrentRow => holdsRow
      case ExcludeGroup | ExcludeTies => ordered && (frame.frameType match {
        case RangeFrame => holdsRow
        case RowFrame => frame.lower == UnboundedPreceding && frame.upper == UnboundedFollowing
      })
    }
  }

  private val zero = Literal(0)
  private def one(x: Expression): Expression = If(IsNull(x), Literal(0L), Literal(1L))

  /** COUNT(x) over `frame` with the exclusion (0 on empty, per SQL). */
  def count(x: Expression, frame: WindowFrame, over: Over, exclude: Exclude): Expression = {
    val c = over(Count(x), frame)
    exclude match {
      case ExcludeCurrentRow => Subtract(c, one(x))
      case ExcludeGroup => Subtract(c, over.peers(Count(x)))
      case ExcludeTies => Add(Subtract(c, over.peers(Count(x))), one(x))
    }
  }

  /** The excluded frame's SUM and non-null COUNT. */
  private def sumCount(x: Expression, frame: WindowFrame, over: Over,
      exclude: Exclude): (Expression, Expression) = {
    val excluded = exclude match {
      case ExcludeCurrentRow => Coalesce(Seq(x, zero))
      case ExcludeGroup => Coalesce(Seq(over.peers(Sum(x)), zero))
      case ExcludeTies => Subtract(Coalesce(Seq(over.peers(Sum(x)), zero)), Coalesce(Seq(x, zero)))
    }
    (Subtract(over(Sum(x), frame), excluded), count(x, frame, over, exclude))
  }

  /** SUM(x) over `frame` with the exclusion (NULL on empty). */
  def sum(x: Expression, frame: WindowFrame, over: Over, exclude: Exclude): Expression = {
    val (s, n) = sumCount(x, frame, over, exclude)
    If(EqualTo(n, Literal(0L)), Literal(null), s)
  }

  /** AVG via the exact sum/count pair, in DOUBLE (NULL on empty). */
  def avg(x: Expression, frame: WindowFrame, over: Over, exclude: Exclude): Expression = {
    val (s, n) = sumCount(x, frame, over, exclude)
    If(EqualTo(n, Literal(0L)), Literal(null), Divide(Cast(s, DoubleType), Cast(n, DoubleType)))
  }

  /** MIN (or MAX) of x over the ROWS frame [lower, upper] EXCLUDE
    * CURRENT ROW: no inverse exists, so the frame splits into the
    * strictly-before and strictly-after halves — two more aggregates
    * on the same sort — recombined with `least`/`greatest`
    * (null-skipping, NULL when both halves are empty, matching SQL).
    */
  def minMaxExcludeCurrentRow(x: Expression, isMin: Boolean, lower: Expression,
      upper: Expression, over: Over): Expression = {
    def f: AggregateFunction = if (isMin) Min(x) else Max(x)
    val halves =
      (if (lower == CurrentRow) None else Some(over(f, SpecifiedWindowFrame(RowFrame, lower, Literal(-1))))) ++
        (if (upper == CurrentRow) None else Some(over(f, SpecifiedWindowFrame(RowFrame, Literal(1), upper))))
    halves.toSeq match {
      case Seq() => Literal.create(null, x.dataType)
      case Seq(h) => h
      case hs => if (isMin) Least(hs) else Greatest(hs)
    }
  }

  /** FIRST_VALUE / LAST_VALUE (`f`, respecting NULLs) over a ROWS
    * frame EXCLUDE CURRENT ROW: the answer moves only when the frame
    * starts (ends) at the current row, so that edge shifts one row in.
    * (A RANGE edge holds the row's peers, which no shift skips.)
    */
  def edgeExcludeCurrentRow(f: AggregateFunction, isFirst: Boolean,
      frame: SpecifiedWindowFrame, over: Over): Expression = frame match {
    case SpecifiedWindowFrame(unit, CurrentRow, upper) if isFirst =>
      over(f, SpecifiedWindowFrame(unit, Literal(1), upper))
    case SpecifiedWindowFrame(unit, lower, CurrentRow) if !isFirst =>
      over(f, SpecifiedWindowFrame(unit, lower, Literal(-1)))
    case _ => over(f, frame)
  }

  // ------------------------------------------------- DataFrame entry points

  /** Frame descriptors — the only way to hand a frame to the
    * DataFrame entry points, so every shape they accept contains the
    * current row by construction (both bounds non-negative).
    */
  sealed trait Frame { private[WindowExclude] def spark: SpecifiedWindowFrame }
  /** RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING. */
  case object FullPartition extends Frame {
    private[WindowExclude] def spark = SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, UnboundedFollowing)
  }
  /** An offset bound as Spark's parser writes it; 0 is CURRENT ROW. */
  private def offset(n: Long, preceding: Boolean, lit: Long => Literal): Expression =
    if (n == 0) CurrentRow else if (preceding) UnaryMinus(lit(n)) else lit(n)
  /** ROWS BETWEEN `preceding` PRECEDING AND `following` FOLLOWING. */
  final case class RowsAround(preceding: Long, following: Long) extends Frame {
    require(preceding >= 0 && following >= 0,
      s"ROWS frame [$preceding PRECEDING, $following FOLLOWING] must contain the current row")
    private[WindowExclude] def spark = SpecifiedWindowFrame(RowFrame,
      offset(preceding, preceding = true, n => Literal(n.toInt)),
      offset(following, preceding = false, n => Literal(n.toInt)))
  }
  /** RANGE BETWEEN `preceding` PRECEDING AND `following` FOLLOWING
    * over a numeric/temporal order key.
    */
  final case class RangeAround(preceding: Long, following: Long) extends Frame {
    require(preceding >= 0 && following >= 0,
      s"RANGE frame [$preceding PRECEDING, $following FOLLOWING] must contain the current row")
    private[WindowExclude] def spark = SpecifiedWindowFrame(RangeFrame,
      offset(preceding, preceding = true, Literal(_)), offset(following, preceding = false, Literal(_)))
  }

  private def over(part: Seq[Column], order: Seq[Column]): Over =
    Over(part.map(GraftBridge.exprOf), order.map(GraftBridge.sortOrderOf))

  private def column(build: (Expression, WindowFrame, Over, Exclude) => Expression)(
      x: Column, frame: Frame, part: Seq[Column], order: Seq[Column], exclude: Exclude): Column = {
    require(algebraHolds(frame.spark, order.nonEmpty, exclude),
      s"EXCLUDE $exclude over $frame can split the peer group; use FullPartition or RangeAround")
    GraftBridge.columnOf(build(GraftBridge.exprOf(x), frame.spark, over(part, order), exclude))
  }

  /** SUM(x) over `frame` (built here from part/order) with exclusion. */
  def sumExclude(x: Column, frame: Frame, part: Seq[Column], order: Seq[Column],
      exclude: Exclude): Column = column(sum)(x, frame, part, order, exclude)

  /** COUNT(x) over `frame` with exclusion (0 on empty, per SQL). */
  def countExclude(x: Column, frame: Frame, part: Seq[Column], order: Seq[Column],
      exclude: Exclude): Column = column(count)(x, frame, part, order, exclude)

  /** AVG via the exact sum/count pair (NULL on empty, per SQL). */
  def avgExclude(x: Column, frame: Frame, part: Seq[Column], order: Seq[Column],
      exclude: Exclude): Column = column(avg)(x, frame, part, order, exclude)

  /** MIN(x) over a bounded ROWS frame [-prec, +fol] EXCLUDE CURRENT ROW. */
  def minExcludeCurrentRow(x: Column, part: Seq[Column], order: Seq[Column],
                           prec: Long, fol: Long): Column =
    minMaxColumn(isMin = true, x, part, order, prec, fol)

  /** MAX variant of [[minExcludeCurrentRow]]. */
  def maxExcludeCurrentRow(x: Column, part: Seq[Column], order: Seq[Column],
                           prec: Long, fol: Long): Column =
    minMaxColumn(isMin = false, x, part, order, prec, fol)

  private def minMaxColumn(isMin: Boolean, x: Column, part: Seq[Column], order: Seq[Column],
      prec: Long, fol: Long): Column = {
    val f = RowsAround(prec, fol).spark
    GraftBridge.columnOf(minMaxExcludeCurrentRow(GraftBridge.exprOf(x), isMin, f.lower, f.upper,
      over(part, order)))
  }
}
