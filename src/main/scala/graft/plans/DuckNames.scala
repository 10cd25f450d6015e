package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Expressions behind the dialect's operator spellings, slices,
 * subscripts and cast rounding; FunctionTable injects them under the
 * reference's names. */

/** First-match-only regexp replacement — the reference's 4-arg
  * regexp_replace WITHOUT 'g' in the options string binds
  * RE2::Replace, which rewrites only the first occurrence
  * (extension/.. duckdb_re2; options parsed in
  * src/function/scalar/string/regexp.cpp). Backrefs in the
  * replacement use the reference's `\1` spelling and are converted
  * to Java's `$1`; a literal `$` is escaped.
  */
case class RegExpReplaceFirst(subject: Expression, regexp: Expression, rep: Expression)
    extends TernaryExpression with CodegenFallback {
  override def first: Expression = subject
  override def second: Expression = regexp
  override def third: Expression = rep
  override def dataType: DataType = StringType
  override def nullable: Boolean = children.exists(_.nullable)
  @transient private var lastPat: String = _
  @transient private var compiled: java.util.regex.Pattern = _
  private def toJavaReplacement(r: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      val c = r.charAt(i)
      if (c == '\\' && i + 1 < r.length && r.charAt(i + 1).isDigit) {
        sb += '$'; sb += r.charAt(i + 1); i += 2
      } else if (c == '\\' && i + 1 < r.length && r.charAt(i + 1) == '\\') {
        sb ++= "\\\\"; i += 2
      } else if (c == '$') { sb ++= "\\$"; i += 1 }
      else if (c == '\\') { sb ++= "\\\\"; i += 1 }
      else { sb += c; i += 1 }
    }
    sb.toString
  }
  override def nullSafeEval(s: Any, p: Any, r: Any): Any = {
    val ps = p.toString
    if (compiled == null || lastPat != ps) {
      compiled = java.util.regex.Pattern.compile(ps)
      lastPat = ps
    }
    UTF8String.fromString(
      compiled.matcher(s.toString).replaceFirst(toJavaReplacement(r.toString)))
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RegExpReplaceFirst =
    copy(subject = f, regexp = s, rep = t)
}

/** The reference's `//` operator (src/core_functions/scalar/math):
  * truncating division on integral inputs (7//2 = 3, -7//2 = -3),
  * plain division otherwise (7.5//2 = 3.75). Type dispatch happens at
  * analysis via `dataType`, so each occurrence evaluates one branch.
  */
case class DuckDiv(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  private def numeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (numeric(left.dataType) && numeric(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"`//` expects numeric operands, got ${left.dataType.sql} and ${right.dataType.sql}")
  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private lazy val bothIntegral = integral(left.dataType) && integral(right.dataType)
  override def dataType: DataType = if (bothIntegral) LongType else DoubleType
  private def toDouble(v: Any): Double = v match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue
  }
  private def toLong(v: Any): Long = v match {
    case d: Decimal => d.toLong
    case n: Number => n.longValue
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    if (bothIntegral) {
      val d = toLong(r)
      if (d == 0L) null else toLong(l) / d
    } else {
      // the reference binds `//` through BinaryZeroIsNullWrapper
      // (ieee_floating_point_ops off by default): zero divisor →
      // NULL on the float branch too, matching the integral branch
      val d = toDouble(r)
      if (d == 0.0) null else toDouble(l) / d
    }
  override def nullable: Boolean = true
  // codegen'd on the common primitive branches (static at codegen
  // time); decimal operands use the interpreted fallback
  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val decimalIn = Seq(left.dataType, right.dataType).exists(_.isInstanceOf[DecimalType])
    if (decimalIn) super.doGenCode(ctx, ev)
    else if (bothIntegral) nullSafeCodeGen(ctx, ev, (l, r) => s"""
        |if ((long)($r) == 0L) { ${ev.isNull} = true; }
        |else { ${ev.value} = (long)($l) / (long)($r); }
      """.stripMargin)
    else nullSafeCodeGen(ctx, ev, (l, r) => s"""
        |if (((double)($r)) == 0.0) { ${ev.isNull} = true; }
        |else { ${ev.value} = ((double)($l)) / ((double)($r)); }
      """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DuckDiv =
    copy(left = l, right = r)
}

/** nextval('seq') / currval('seq') (reference nextval.cpp): reads
  * and advances the session sequence registry (plans/Sequences).
  * Nondeterministic so the optimizer never folds, caches, or
  * reorders calls — one advance per input row, like the reference.
  */
case class SequenceVal(nameExpr: Expression, isNext: Boolean)
    extends UnaryExpression with Nondeterministic with CodegenFallback {
  override def child: Expression = nameExpr
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def initializeInternal(partitionIndex: Int): Unit = {}
  override protected def evalInternal(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val n = nameExpr.eval(input)
    if (n == null) null
    else if (isNext) Sequences.next(n.toString)
    else Sequences.curr(n.toString)
  }
  override protected def withNewChildInternal(newChild: Expression): SequenceVal =
    copy(nameExpr = newChild)
}

/** The reference's slice `x[lo:hi[:step]]` over lists AND strings
  * (src/core_functions/scalar/list/array_slice.cpp — ClampSlice +
  * CalculateSliceLength, pinned by test/sql/types/nested/list/
  * test_list_slice_step.test and …_negative_step.test): 1-based
  * inclusive bounds, negative bounds count from the end, SYNTACTIC
  * empties (`x[:3]`, `x[1:-:2]` — loEmpty/hiEmpty flags) default to
  * the ends while a NULL bound VALUE yields NULL, negative step
  * reverses (begin/end swap, with the empty flags swapping roles),
  * step 0 raises, out-of-range clamps, lo &gt; hi yields empty.
  * Type-polymorphic, so it backs the dialect's `[a:b:c]` spelling
  * where the operand type is unknown at translate time; also backs
  * list_slice / array_slice (3- and 4-arg forms).
  */
case class DuckSlice(input: Expression, lo: Expression, hi: Expression,
    stepOpt: Option[Expression], loEmpty: Boolean, hiEmpty: Boolean)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(input, lo, hi) ++ stepOpt
  override def dataType: DataType = input.dataType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    input.dataType match {
      case _: ArrayType | NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case StringType if stepOpt.isEmpty =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case StringType =>
        // the reference errors on stepped string slices (array_slice.cpp
        // has no string step kernel; test_list_slice_step.test pins it)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "duck_slice: slice steps are not supported on strings")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"duck_slice expects a list or string input, got ${other.sql}")
    }

  private def asLong(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue
    case d: Decimal => d.toLong
    case s: UTF8String => s.toString.trim.toLong
    case other => other.asInstanceOf[java.lang.Number].longValue
  }

  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val in = input.eval(row)
    if (in == null) return null
    val n: Long = in match {
      case s: UTF8String => s.numChars().toLong
      case arr: ArrayData => arr.numElements().toLong
    }
    var begin: Long = if (loEmpty) 0L else {
      val v = lo.eval(row); if (v == null) return null; asLong(v)
    }
    var end: Long = if (hiEmpty) n else {
      val v = hi.eval(row); if (v == null) return null; asLong(v)
    }
    val step: Long = stepOpt match {
      case Some(se) =>
        val v = se.eval(row); if (v == null) return null; asLong(v)
      case None => 1L
    }
    if (step < 0) { // reverse: swap bounds; the empty flags swap roles
      val t = begin; begin = end; end = t
      if (hiEmpty) begin = 0L
      if (loEmpty) end = n
    }
    // ClampSlice: shift 1-based inclusive → 0-based exclusive-end
    if (begin != 0L && begin != Long.MinValue) begin -= 1
    val isMin = begin == Long.MinValue
    if (isMin) begin += 1
    if (begin < 0 && -begin > n && end < 0 && end < -n) { begin = 0; end = 0 }
    else {
      if (begin < 0 && -begin > n) begin = 0
      if (begin < 0) { if (!isMin) begin += 1; begin += n }
      else if (begin > n) begin = n
      if (end < 0) end = end + 1 + n
      else if (end > n) end = n
      end = math.max(begin, end)
    }
    in match {
      case s: UTF8String =>
        if (end <= begin) UTF8String.EMPTY_UTF8
        else s.substringSQL(begin.toInt + 1, (end - begin).toInt)
      case arr: ArrayData =>
        val et = input.dataType.asInstanceOf[ArrayType].elementType
        val span = end - begin
        if (span <= 0) new GenericArrayData(Array.empty[Any])
        else if (step == 1)
          new GenericArrayData(
            (begin until end).map(i => arr.get(i.toInt, et)).toArray)
        else {
          if (step == 0)
            throw new IllegalArgumentException("Slice step cannot be zero")
          val st = math.abs(step)
          val len =
            if (st >= span) 1L
            else if (span % st != 0) span / st + 1
            else span / st
          var idx = if (step > 0) begin else end - 1
          val out = new Array[Any](len.toInt)
          var i = 0
          while (i < len) { out(i) = arr.get(idx.toInt, et); idx += step; i += 1 }
          new GenericArrayData(out)
        }
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DuckSlice =
    copy(input = newChildren(0), lo = newChildren(1), hi = newChildren(2),
      stepOpt = if (newChildren.length > 3) Some(newChildren(3)) else None)
}

/** The reference's 1-based subscript `x[i]` / list_extract
  * (src/function/scalar/list/list_extract.cpp) over lists and
  * strings: negative indexes count from the end (-1 = last), index 0
  * and out-of-range yield NULL — unlike Spark's element_at, which
  * raises on index 0. Backs the dialect's `x[i]` spelling.
  */
case class ListExtract(input: Expression, index: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = input
  override def right: Expression = index
  private def constIdx: Int = {
    require(index.foldable, "struct subscripts require a constant index")
    index.eval(null).asInstanceOf[Number].intValue
  }
  /** struct['name'] — 1-based position of a constant string key. */
  private def structFieldIdx(s: StructType): Int = index.dataType match {
    case StringType if index.foldable =>
      val name = index.eval(null).toString
      val i = s.fields.indexWhere(_.name.equalsIgnoreCase(name))
      require(i >= 0, s"struct subscript: no field '$name'")
      i + 1
    case _ => constIdx
  }
  override def dataType: DataType = input.dataType match {
    case ArrayType(et, _) => et
    case s: StructType => s.fields(structFieldIdx(s) - 1).dataType // 1-based, like the reference
    // map subscript returns a LIST — [value] on hit, [] on miss
    // (reference map_extract.cpp:30 binds LIST(value_type), :88
    // returns the empty list for a missing key)
    case MapType(_, vt, _) => ArrayType(vt)
    case _ => StringType
  }
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    input.dataType match {
      case _: ArrayType | StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case s: StructType =>
        if (index.foldable && { val i = structFieldIdx(s); i >= 1 && i <= s.fields.length })
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "struct subscript must be a constant position or field name")
      case m: MapType =>
        if (index.dataType == m.keyType ||
            index.dataType.catalogString == m.keyType.catalogString)
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"map subscript key must be ${m.keyType.sql}")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"list_extract expects a list, string, struct, or map input, got ${other.sql}")
    }
  override def nullSafeEval(in: Any, idxV: Any): Any = input.dataType match {
    case StringType =>
      val s = in.asInstanceOf[UTF8String]
      val i0 = idxV.asInstanceOf[Number].intValue
      val n = s.numChars()
      val i = if (i0 < 0) n + i0 + 1 else i0
      if (i < 1 || i > n) null else s.substringSQL(i, 1)
    case at: ArrayType =>
      val arr = in.asInstanceOf[ArrayData]
      val i0 = idxV.asInstanceOf[Number].intValue
      val n = arr.numElements()
      val i = if (i0 < 0) n + i0 + 1 else i0
      if (i < 1 || i > n) null else arr.get(i - 1, at.elementType)
    case st: StructType =>
      val row = in.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val i = structFieldIdx(st)
      if (row.isNullAt(i - 1)) null else row.get(i - 1, st.fields(i - 1).dataType)
    case mt: MapType =>
      val m = in.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val keys = m.keyArray()
      val n = m.numElements()
      var i = 0
      var hit = -1
      while (i < n && hit < 0) {
        if (keys.get(i, mt.keyType) == idxV) hit = i
        i += 1
      }
      if (hit < 0) new GenericArrayData(Array.empty[Any])
      else new GenericArrayData(Array[Any](
        if (m.valueArray().isNullAt(hit)) null
        else m.valueArray().get(hit, mt.valueType)))
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ListExtract =
    copy(input = l, index = r)
}

/** The reference's numeric→integer CAST rounds; Spark's truncates.
  * This expression applies the reference's per-type rounding rule so
  * `CAST(graft_rint(x) AS INT)` (what the dialect emits for integer
  * cast targets) matches DuckDB bit-for-bit:
  *   DOUBLE/FLOAT → round half to EVEN (std::nearbyint,
  *     cast_operators double→integral: 49.5→50, 48.5→48);
  *   DECIMAL → round half AWAY from zero (decimal_cast 49.5→50,
  *     48.5→49, −49.5→−50);
  *   VARCHAR → parse as double, half away ('48.5'→49);
  *   integral and everything else → identity (the outer cast already
  *     agrees).
  * Output type: input type for numerics (value rounded to an
  * integral), DECIMAL(38,0) for strings — exact over the whole
  * int64/int128 range (a Double detour silently corrupts digit
  * strings past 2^53, e.g. '9223372036854775807'::BIGINT), and the
  * outer integer CAST then truncates an already-rounded value.
  * Codegen'd: this sits inside arbitrary cast chains and must not
  * break whole-stage spans.
  */
case class DuckRint(input: Expression, strict: Boolean = true) extends UnaryExpression {
  override def child: Expression = input
  override def dataType: DataType = input.dataType match {
    case StringType => DecimalType(38, 0)
    case other => other
  }
  // the try form yields NULL for an unparsable string, null input or not
  override def nullable: Boolean = input.nullable || (!strict && input.dataType == StringType)
  override def nullSafeEval(in: Any): Any = input.dataType match {
    case DoubleType => Math.rint(in.asInstanceOf[Double])
    case FloatType => Math.rint(in.asInstanceOf[Float].toDouble).toFloat
    case d: DecimalType =>
      // HALF_UP on java BigDecimal = half away from zero (both signs)
      val bd = in.asInstanceOf[Decimal].toJavaBigDecimal
        .setScale(0, java.math.RoundingMode.HALF_UP).setScale(d.scale)
      Decimal(bd, d.precision, d.scale)
    case StringType =>
      val s = in.asInstanceOf[UTF8String].toString.trim
      try {
        // exact arbitrary-precision parse + half away from zero, like
        // the reference's string→int path (integer_cast_operator.hpp
        // parses digits exactly; only the fraction rounds)
        val bd = new java.math.BigDecimal(s)
          .setScale(0, java.math.RoundingMode.HALF_UP)
        if (bd.precision > 38) throw new NumberFormatException(
          s"Cast: value out of range for integer: '$s'")
        Decimal(bd, 38, 0)
      } catch {
        case e: NumberFormatException =>
          // plain CAST errors in BOTH engines; TRY_CAST yields NULL
          if (strict) throw new NumberFormatException(
            s"Cast: invalid input syntax for integer: '$s'")
          else null
      }
    case _ => in
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    input.dataType match {
      case DoubleType => defineCodeGen(ctx, ev, c => s"java.lang.Math.rint($c)")
      case FloatType =>
        defineCodeGen(ctx, ev, c => s"(float) java.lang.Math.rint((double) $c)")
      case _: DecimalType | StringType =>
        val self = ctx.addReferenceObj("duckRint", this, classOf[DuckRint].getName)
        nullSafeCodeGen(ctx, ev, c => {
          // a fresh local: two calls can share one generated function
          val r = ctx.freshName("rint")
          val eval = s"Object $r = $self.nullSafeEval($c);\n"
          val set = s"${ev.value} = (Decimal) $r;"
          // a non-nullable result has no isNull variable to assign
          if (!nullable) eval + set
          else eval + s"if ($r == null) { ${ev.isNull} = true; } else { $set }"
        })
      case _ => defineCodeGen(ctx, ev, c => c) // integral & friends: identity
    }
  override protected def withNewChildInternal(c: Expression): DuckRint = copy(input = c)
}

/** `s GLOB pattern` with a NON-LITERAL pattern — the reference
  * evaluates glob per row (like.cpp); literal patterns compile to an
  * anchored RLIKE at translate time instead (DuckDialect.globRegex —
  * same semantics, including malformed-pattern = no-match). Codegen'd
  * static call into HashKernels.globMatch.
  */
case class GlobMatch(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable
  override def nullSafeEval(s: Any, p: Any): Any =
    HashKernels.globMatch(s.asInstanceOf[UTF8String], p.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (s, p) => s"graft.plans.HashKernels.globMatch($s, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): GlobMatch =
    copy(left = l, right = r)
}

/** Normalize a RUNTIME JSON path operand to Spark's JSONPath syntax —
  * the same rules the dialect applies to literal `->` operands
  * (DuckDialect.jsonPath): '$…'-prefixed paths pass through with
  * `."quoted"` segments re-quoted as ['…']; a bare integer is an
  * array index; anything else is one object key (bracket-quoted so
  * spaces survive). NULL path → NULL (reference parity).
  */
case class JsonPathNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(in: Any): Any =
    JsonPathNorm.norm(String.valueOf(in)) // string paths AND int indices
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.JsonPathNorm.norm(String.valueOf($c))")
  override protected def withNewChildInternal(c: Expression): JsonPathNorm =
    copy(child = c)
}

object JsonPathNorm {
  def norm(s: String): UTF8String = {
    val out =
      if (s.startsWith("$")) {
        val sb = new StringBuilder
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == '.' && i + 1 < s.length && s.charAt(i + 1) == '"') {
            var j = i + 2
            val k = new StringBuilder
            while (j < s.length && s.charAt(j) != '"') { k += s.charAt(j); j += 1 }
            sb ++= "['"; sb ++= k; sb ++= "']"
            i = j + 1
          } else { sb += c; i += 1 }
        }
        sb.toString
      }
      else if (s.matches("-?\\d+")) s"$$[$s]"
      else "$['" + s + "']"
    UTF8String.fromString(out)
  }
}

/** DuckDB's polymorphic len (string → characters, like Spark's
  * built-in length; list → element count as BIGINT, like the
  * reference; binary → bytes). Registered over the string-only
  * built-in so dialect queries like len(list_filter(...)) resolve.
  */
case class LenPoly(input: Expression) extends UnaryExpression {
  override def child: Expression = input
  override def dataType: DataType = input.dataType match {
    case _: ArrayType => LongType
    case _ => IntegerType
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    input.dataType match {
      case _: ArrayType | StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"len expects a string, binary, or list input, got ${other.sql}")
    }
  override def nullSafeEval(in: Any): Any = in match {
    case s: UTF8String => s.numChars()
    case b: Array[Byte] => b.length
    case arr: ArrayData => arr.numElements().toLong
  }
  // codegen'd: len overrides a Spark built-in, so it must not break a
  // whole-stage span (the type dispatch is static at codegen time)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    input.dataType match {
      case StringType => defineCodeGen(ctx, ev, c => s"($c).numChars()")
      case BinaryType => defineCodeGen(ctx, ev, c => s"($c).length")
      case _ => defineCodeGen(ctx, ev, c => s"(long)(($c).numElements())")
    }
  override protected def withNewChildInternal(c: Expression): LenPoly = copy(input = c)
}

/** RFC 7386 JSON merge patch (the reference's bundled json extension
  * json_merge_patch): a non-object patch replaces the target
  * wholesale; object patches merge recursively, null members remove
  * keys. A NULL argument yields the other (the reference's
  * two-argument behavior). Uses Spark's vendored Jackson; key order
  * is target-then-new, matching compact insertion-ordered output.
  */
case class JsonMergePatch(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  private def merge(
      target: com.fasterxml.jackson.databind.JsonNode,
      patch: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    if (!patch.isObject) return patch
    val base: ObjectNode =
      if (target.isObject) target.deepCopy[ObjectNode]()
      else mapper.createObjectNode()
    val it = patch.fields()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isNull) base.remove(e.getKey)
      else if (base.has(e.getKey)) base.set[ObjectNode](e.getKey, merge(base.get(e.getKey), e.getValue))
      else base.set[ObjectNode](e.getKey, e.getValue)
    }
    base
  }

  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(row)
    val r = right.eval(row)
    if (l == null && r == null) return null
    if (l == null) return r
    if (r == null) return l
    val merged = merge(
      mapper.readTree(l.asInstanceOf[UTF8String].toString),
      mapper.readTree(r.asInstanceOf[UTF8String].toString))
    UTF8String.fromString(mapper.writeValueAsString(merged))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JsonMergePatch =
    copy(left = l, right = r)
}

/** can_cast_implicitly(a, b): whether a's type implicitly casts to
  * b's (reference src/function/scalar/generic/can_implicitly_cast
  * .cpp). Mapped onto Spark's loss-less implicit-cast lattice
  * (Cast.canUpCast) — a bind-time constant, like the reference's.
  */
case class CanCastImplicitly(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any =
    Cast.canUpCast(left.dataType, right.dataType)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CanCastImplicitly =
    copy(left = l, right = r)
}
