package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Array-backed window-frame aggregation kernels — the fallback path
  * for two reference window features Spark's native window exec can't
  * express (plans/WindowFrameRule builds these expressions):
  *
  *  1. Non-literal ROWS frame bounds (`ROWS BETWEEN expr PRECEDING
  *     AND expr FOLLOWING`, reference
  *     test/sql/window/test_boundary_expr.test): the partition is
  *     collected ONCE per partition (Catalyst computes the identical
  *     unbounded collect_list window expression a single time and
  *     reuses it across rows and across the multiple textual
  *     occurrences), then each row slices its own [rn−lo, rn+hi]
  *     range and reduces it here (FrameAgg reads the value field of
  *     the sliced structs, so no per-row offset ever sits inside a
  *     lambda) — O(avg frame) per row, the same
  *     work the reference's WindowBoundariesState does for
  *     expression bounds (it also re-evaluates per row).
  *
  *  2. Window EXCLUDE over combinations the algebra in
  *     operators/WindowExclude can't reach — holistic aggregates (median / mode /
  *     quantile / mad, reference window_segment_tree exclusion), and
  *     distributive aggregates under frames that cut the peer group
  *     (bounded ROWS + EXCLUDE GROUP/TIES). The frame is collected
  *     as (order-keys…, value) structs and the exclusion is applied
  *     here by key comparison.
  *
  * Scale posture: per-row work is O(frame size) and per-partition
  * memory is O(partition) — exactly the cost profile of the
  * reference's own holistic-window path (it buffers the partition
  * too). Partitions are user-keyed; the rewrite never collects
  * across partitions. CodegenFallback is deliberate: these kernels
  * run only on statements Spark cannot express natively, and the
  * array reduction dominates interpretation overhead.
  *
  * Determinism note (EXCLUDE): row identity inside the frame is
  * established by the window's ORDER BY keys (plus the value for
  * EXCLUDE CURRENT ROW). With tied keys under a bounded ROWS frame,
  * which peer occupies which row offset is engine-arbitrary — the
  * same nondeterminism the reference documents for tied ROWS frames
  * — and multiset-valued aggregates (everything here) are unaffected
  * by which value-identical peer is excluded.
  */
object FrameKernel {

  /** Hard cap on a COLLECTED window frame/partition (WindowFrameRule's
    * kernel plans materialize one array per partition). The collect is the reference's own cost
    * model for expression bounds, and Catalyst shares it across rows
    * — but a skewed partition at 100× scale would silently become a
    * single executor-memory row. Past the cap we fail LOUDLY with the
    * shard fallback documented instead of OOMing mid-stage (the
    * NgramLm.MaxModelEntries discipline). 2^22 structs ≈ hundreds of
    * MB per partition — far past where the plan is still the right
    * one.
    */
  val MaxCollectedFrame: Int = 1 << 22

  def guardFrame(a: ArrayData): ArrayData = {
    if (a != null && a.numElements() > MaxCollectedFrame)
      throw new IllegalStateException(
        s"collected window frame exceeds $MaxCollectedFrame rows in one " +
          "partition; this plan materializes a partition per row group — " +
          "re-key the window PARTITION BY to bound partitions, or rewrite " +
          "the frame with literal bounds so Spark's streaming frame is used")
    a
  }

  val fns: Set[String] = Set("sum", "avg", "count", "count_star", "min",
    "max", "median", "mode", "mad", "quantile_cont", "quantile_disc",
    "stddev", "var_samp", "first", "last",
    // _pre variants take the array ORDER AS GIVEN (no internal sort) —
    // the reference's ordered-set `quantile_*(x, q ORDER BY …)` form,
    // positional interpolation over the caller-sorted multiset
    "quantile_cont_pre", "quantile_disc_pre",
    // navigation over the (excluded) frame: positional with nulls
    // (_in = IGNORE NULLS); collect_set = distinct non-null values;
    // array_agg = frame order, NULLs kept (pinned vs the reference)
    "first_in", "last_in", "nth", "nth_in", "collect_set", "array_agg")

  def resultType(fn: String, elem: DataType): DataType = fn match {
    case "count" | "count_star" => LongType
    case "sum" => elem match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case d: DecimalType => DecimalType(38, d.scale)
      case _ => DoubleType
    }
    case "avg" | "median" | "quantile_cont" | "quantile_cont_pre" | "mad" |
        "stddev" | "var_samp" =>
      DoubleType
    case "collect_set" => ArrayType(elem, containsNull = false)
    case "array_agg" => ArrayType(elem, containsNull = true)
    case _ => elem // min/max/mode/quantile_disc/first/last/nth
  }

  private def toDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case b: Byte => b.toDouble
    case s: Short => s.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case dec: Decimal => dec.toDouble
    case other => throw new IllegalArgumentException(
      s"frame_agg: non-numeric input $other")
  }

  /** Spark Percentile / DuckDB quantile_cont shared interpolation:
    * lower + (upper − lower)·frac over the sorted values.
    */
  private def quantileCont(sorted: Array[Double], q: Double): Double = {
    val pos = (sorted.length - 1) * q
    val lo = pos.toInt
    val frac = pos - lo
    if (frac == 0.0) sorted(lo)
    else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
  }

  /** Reduce `values` (Catalyst values of `elem`, nulls included) with
    * `fn`. Empty / all-NULL input yields NULL (count yields 0),
    * matching both engines' aggregate contracts.
    */
  def compute(fn: String, q: Double, values: IndexedSeq[Any],
      elem: DataType): Any = fn match {
    case "count_star" => values.length.toLong
    case "first" => if (values.isEmpty) null else values.head
    case "last" => if (values.isEmpty) null else values.last
    case "nth" =>
      val i = q.toInt - 1
      if (i >= 0 && i < values.length) values(i) else null
    case "array_agg" =>
      if (values.isEmpty) null
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(values.toArray)
    case "first_in" => values.find(_ != null).orNull
    case "last_in" => values.reverseIterator.find(_ != null).orNull
    case "nth_in" =>
      val nn0 = values.filter(_ != null)
      val i = q.toInt - 1
      if (i >= 0 && i < nn0.length) nn0(i) else null
    case _ =>
      val nn = values.filter(_ != null)
      fn match {
        case "count" => nn.length.toLong
        case _ if nn.isEmpty => null
        case "sum" => elem match {
          case ByteType | ShortType | IntegerType | LongType =>
            // no Double detour: a Long > 2^53 would silently lose
            // precision round-tripping through toDouble
            var s = 0L
            nn.foreach(v => s += v.asInstanceOf[Number].longValue)
            s
          case d: DecimalType =>
            var s = BigDecimal(0)
            nn.foreach(v => s += v.asInstanceOf[Decimal].toBigDecimal)
            Decimal(s, 38, d.scale)
          case _ =>
            var s = 0.0
            nn.foreach(v => s += toDouble(v))
            s
        }
        case "avg" =>
          var s = 0.0
          nn.foreach(v => s += toDouble(v))
          s / nn.length
        case "min" | "max" =>
          val ord = TypeUtils.getInterpretedOrdering(elem)
          if (fn == "min") nn.min(ord) else nn.max(ord)
        case "mode" =>
          // deterministic variant: highest count, ties broken by the
          // LOWEST value (the reference's mode keeps first-encountered,
          // which is hash-order-nondeterministic — same policy as the
          // repo's f25 entry)
          val ord = TypeUtils.getInterpretedOrdering(elem)
          val counts = new java.util.HashMap[Any, Array[Long]]()
          nn.foreach { v =>
            val e = counts.get(v)
            if (e != null) e(0) += 1L else counts.put(v, Array(1L))
          }
          var bestV: Any = null
          var bestC = -1L
          counts.forEach { (v, c) =>
            if (c(0) > bestC || (c(0) == bestC && ord.lt(v, bestV))) {
              bestV = v; bestC = c(0)
            }
          }
          bestV
        case "median" | "quantile_cont" =>
          val d = nn.map(toDouble).toArray
          java.util.Arrays.sort(d)
          quantileCont(d, if (fn == "median") 0.5 else q)
        case "mad" =>
          val d = nn.map(toDouble).toArray
          java.util.Arrays.sort(d)
          val med = quantileCont(d, 0.5)
          val devs = d.map(x => math.abs(x - med))
          java.util.Arrays.sort(devs)
          quantileCont(devs, 0.5)
        case "quantile_disc" =>
          // SQL-standard percentile_disc ≡ reference quantile_disc
          // (pinned in this session: idx = max(ceil(q·n)−1, 0))
          val ord = TypeUtils.getInterpretedOrdering(elem)
          val sorted = nn.sorted(ord)
          val idx = math.max(math.ceil(q * sorted.length).toInt - 1, 0)
          sorted(math.min(idx, sorted.length - 1))
        case "quantile_cont_pre" =>
          // positional interpolation over the order AS GIVEN (pinned:
          // quantile_cont(x, 0.8 ORDER BY x DESC) over {1,2} = 1.2)
          quantileCont(nn.map(toDouble).toArray, q)
        case "quantile_disc_pre" =>
          val idx = math.max(math.ceil(q * nn.length).toInt - 1, 0)
          nn(math.min(idx, nn.length - 1))
        case "collect_set" =>
          val ord = TypeUtils.getInterpretedOrdering(elem)
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            nn.distinct.sorted(ord).toArray)
        case "stddev" | "var_samp" =>
          if (nn.length < 2) null
          else {
            val d = nn.map(toDouble)
            val mean = d.sum / d.length
            val ss = d.map(x => (x - mean) * (x - mean)).sum
            val v = ss / (d.length - 1)
            if (fn == "stddev") math.sqrt(v) else v
          }
        case other => throw new IllegalArgumentException(
          s"frame_agg: unknown function '$other'")
      }
  }

  private[operators] def constString(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a constant")
    val v = e.eval(InternalRow.empty)
    require(v != null, s"$what must be non-NULL")
    v.toString
  }

  private[operators] def constDouble(e: Expression): Double =
    e.eval(InternalRow.empty) match {
      case null => Double.NaN
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case dec: Decimal => dec.toDouble
      case other => other.toString.toDouble
    }
}

/** graft_frame_agg(values_array, 'fn'[, q]) — reduce an array of
  * values with a named aggregate (FrameKernel.compute). An array of
  * structs is read by its last field: the value of the (order keys…,
  * value) rows WindowFrameRule slices per row for per-row ROWS
  * offsets. The dialect calls it on sorted value lists (ordered-set
  * quantiles).
  */
case class FrameAgg(arr: Expression, fnE: Expression, qE: Expression)
  extends Expression with CodegenFallback {

  def this(arr: Expression, fnE: Expression) =
    this(arr, fnE, org.apache.spark.sql.catalyst.expressions.Literal(null, DoubleType))

  override def children: Seq[Expression] = Seq(arr, fnE, qE)
  override def nullable: Boolean = true

  private lazy val fn: String = FrameKernel.constString(fnE, "frame_agg fn").toLowerCase
  private lazy val q: Double = FrameKernel.constDouble(qE)
  private lazy val row: DataType = arr.dataType.asInstanceOf[ArrayType].elementType
  // the value field of a struct row, or -1 for plain values
  private lazy val field: Int = row match {
    case s: StructType => s.length - 1
    case _ => -1
  }
  private lazy val elem: DataType = row match {
    case s: StructType => s.fields.last.dataType
    case t => t
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (!arr.dataType.isInstanceOf[ArrayType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"frame_agg expects an array, got ${arr.dataType}")
    else if (!FrameKernel.fns.contains(fn))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"frame_agg: unknown function '$fn'")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = FrameKernel.resultType(fn, elem)

  override def eval(input: InternalRow): Any = {
    val a = arr.eval(input)
    if (a == null) return null
    val ad = a.asInstanceOf[ArrayData]
    val n = ad.numElements()
    val values = new Array[Any](n)
    var i = 0
    while (i < n) {
      values(i) =
        if (field < 0) ad.get(i, elem)
        else {
          val r = ad.getStruct(i, field + 1)
          if (r.isNullAt(field)) null else r.get(field, elem)
        }
      i += 1
    }
    FrameKernel.compute(fn, q, scala.collection.immutable.ArraySeq.unsafeWrapArray(values), elem)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FrameAgg = copy(c(0), c(1), c(2))
  override def prettyName: String = "graft_frame_agg"
}

/** Identity on a collected frame/partition array, failing LOUDLY past
  * [[FrameKernel.MaxCollectedFrame]] with the shard fallback documented
  * in the message. Wrapped around every collect_list WindowFrameRule
  * builds so a skewed partition at scale surfaces as a clear plan-shape
  * error, not an executor OOM.
  * Codegen'd: a static pass-through call, so it never breaks the
  * whole-stage span the collect feeds.
  */
case class FrameSizeGuard(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = child.dataType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"guard_frame expects an array, got ${child.dataType}")

  override def nullSafeEval(in: Any): Any =
    FrameKernel.guardFrame(in.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.operators.FrameKernel.guardFrame($c)")

  override protected def withNewChildInternal(c: Expression): FrameSizeGuard =
    copy(child = c)
}

/** Window EXCLUDE applied to a collected frame (WindowFrameRule's
  * kernel route; arguments: frame_structs, cur_struct, 'kind', 'fn',
  * q). `frame_structs` is
  * the frame's rows as structs (order-key fields…, value field LAST),
  * collected by the SAME window frame the query names; `cur_struct`
  * is the current row's struct. kind:
  *
  *  - 'current': remove ONE element whose keys AND value null-safe
  *    equal the current row's (a no-op when the frame does not
  *    contain the current row — exactly the reference's
  *    frame-intersected exclusion);
  *  - 'group': remove EVERY element whose keys equal the current
  *    row's (the full peer group, intersected with the frame);
  *  - 'ties': 'group', then the current row's value is restored iff
  *    the frame contained it.
  *
  * With zero key fields (no ORDER BY) all rows are peers — the
  * reference's rule — so 'group' empties the frame and 'ties' keeps
  * only the current row.
  */
case class ExcludeAgg(arr: Expression, cur: Expression, kindE: Expression,
    fnE: Expression, qE: Expression)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(arr, cur, kindE, fnE, qE)
  override def nullable: Boolean = true

  private lazy val fn: String = FrameKernel.constString(fnE, "exclude_agg fn").toLowerCase
  private lazy val kind: String = FrameKernel.constString(kindE, "exclude_agg kind").toLowerCase
  private lazy val q: Double = FrameKernel.constDouble(qE)
  private lazy val struct: StructType = cur.dataType.asInstanceOf[StructType]
  private lazy val nFields: Int = struct.fields.length
  private lazy val vType: DataType = struct.fields.last.dataType
  private lazy val fieldOrds: Array[Ordering[Any]] =
    struct.fields.map(f => TypeUtils.getInterpretedOrdering(f.dataType))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = arr.dataType match {
      case ArrayType(s: StructType, _) => s == struct
      case _ => false
    }
    if (!ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"exclude_agg: frame array element type must match the current-row struct")
    else if (!FrameKernel.fns.contains(fn))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"exclude_agg: unknown function '$fn'")
    else if (!Set("current", "group", "ties").contains(kind))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"exclude_agg: unknown kind '$kind'")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = FrameKernel.resultType(fn, vType)

  private def fieldEq(i: Int, a: InternalRow, b: InternalRow): Boolean = {
    val an = a.isNullAt(i)
    val bn = b.isNullAt(i)
    if (an || bn) an && bn
    else fieldOrds(i).equiv(a.get(i, struct.fields(i).dataType),
      b.get(i, struct.fields(i).dataType))
  }

  private def keysEq(a: InternalRow, b: InternalRow): Boolean = {
    var i = 0
    while (i < nFields - 1) {
      if (!fieldEq(i, a, b)) return false
      i += 1
    }
    true
  }

  override def eval(input: InternalRow): Any = {
    val a = arr.eval(input)
    val c = cur.eval(input)
    if (a == null || c == null) return null
    val ad = a.asInstanceOf[ArrayData]
    val cr = c.asInstanceOf[InternalRow]
    val n = ad.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def valueOf(r: InternalRow): Any =
      if (r.isNullAt(nFields - 1)) null else r.get(nFields - 1, vType)
    kind match {
      case "current" =>
        var removed = false
        var i = 0
        while (i < n) {
          val r = ad.getStruct(i, nFields)
          if (!removed && keysEq(r, cr) && fieldEq(nFields - 1, r, cr)) removed = true
          else out += valueOf(r)
          i += 1
        }
      case "group" =>
        var i = 0
        while (i < n) {
          val r = ad.getStruct(i, nFields)
          if (!keysEq(r, cr)) out += valueOf(r)
          i += 1
        }
      case "ties" =>
        // EXCLUDE TIES keeps the CURRENT ROW at its original frame
        // position and drops the other peers — order matters for the
        // positional kernels routed here (first/last/nth/array_agg),
        // so keep exactly one keys+value match IN PLACE rather than
        // remove-all-then-append (the r10 bug: FIRST_VALUE ... ROWS
        // BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE TIES
        // must return the current row's value, not the first non-peer)
        var kept = false
        var i = 0
        while (i < n) {
          val r = ad.getStruct(i, nFields)
          if (!keysEq(r, cr)) out += valueOf(r)
          else if (!kept && fieldEq(nFields - 1, r, cr)) {
            kept = true; out += valueOf(r)
          }
          i += 1
        }
    }
    FrameKernel.compute(fn, q, out.toIndexedSeq, vType)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ExcludeAgg = copy(c(0), c(1), c(2), c(3), c(4))
  override def prettyName: String = "exclude_agg"
}
