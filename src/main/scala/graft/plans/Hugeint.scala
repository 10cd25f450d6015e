package graft.plans

import java.math.BigInteger

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** INT128 (the reference's HUGEINT / UHUGEINT,
  * src/common/types/hugeint.cpp) past Spark's DECIMAL(38) ceiling.
  *
  * Representation: an ORDER-PRESERVING 16-byte binary — the value
  * plus 2^127 (signed) or the raw value (unsigned), big-endian.
  * Spark compares BinaryType bytewise-unsigned, so `<`/`=`/GROUP BY/
  * ORDER BY on encoded values are NATIVE operations needing no custom
  * comparator — only arithmetic goes through kernels (BigInteger with
  * 128-bit range checks; overflow errors like the reference's
  * hugeint.cpp AddInPlace/Multiply checks).
  *
  * The dialect keeps HUGEINT → DECIMAL(38,0) wherever DECIMAL(38) is
  * exact (the r4 type ladder, unchanged for every in-range cast); the
  * kernel path engages only for literals past 38 digits and for
  * arithmetic over values already in kernel form — mixed operands are
  * lifted via hugeint_lift. Division truncates toward zero and % takes
  * the dividend's sign (BigInteger semantics ≡ the reference's).
  */
object HugeintKernel {
  private val Offset = BigInteger.ONE.shiftLeft(127)
  private val SignedMin = Offset.negate()
  private val SignedMax = Offset.subtract(BigInteger.ONE)
  private val UnsignedMax = BigInteger.ONE.shiftLeft(128).subtract(BigInteger.ONE)

  def inRange(v: BigInteger, signed: Boolean): Boolean =
    if (signed) v.compareTo(SignedMin) >= 0 && v.compareTo(SignedMax) <= 0
    else v.signum() >= 0 && v.compareTo(UnsignedMax) <= 0

  def encode(v: BigInteger, signed: Boolean): Array[Byte] = {
    if (!inRange(v, signed))
      throw new ArithmeticException(
        s"Overflow in ${if (signed) "HUGEINT" else "UHUGEINT"}: $v out of range")
    val shifted = if (signed) v.add(Offset) else v
    val raw = shifted.toByteArray // BE, minimal, may carry a sign 0x00
    val out = new Array[Byte](16)
    val src = if (raw.length > 16) raw.length - 16 else 0
    val dst = if (raw.length < 16) 16 - raw.length else 0
    System.arraycopy(raw, src, out, dst, math.min(raw.length, 16))
    out
  }

  def decode(b: Array[Byte], signed: Boolean): BigInteger = {
    val u = new BigInteger(1, b)
    if (signed) u.subtract(Offset) else u
  }

  def parse(s: UTF8String, signed: Boolean): Array[Byte] = {
    val t = s.toString.trim
    val v =
      try new BigInteger(t)
      catch {
        case _: NumberFormatException =>
          throw new ArithmeticException(
            s"Could not convert string '$t' to ${if (signed) "HUGEINT" else "UHUGEINT"}")
      }
    encode(v, signed)
  }

  def render(b: Array[Byte], signed: Boolean): UTF8String =
    UTF8String.fromString(decode(b, signed).toString)

  def fromLong(v: Long, signed: Boolean): Array[Byte] =
    encode(BigInteger.valueOf(v), signed)

  def toDouble(b: Array[Byte], signed: Boolean): Double =
    decode(b, signed).doubleValue()

  def toLong(b: Array[Byte], signed: Boolean): Long =
    decode(b, signed).longValueExact()

  def add(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).add(decode(b, signed)), signed)

  def sub(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).subtract(decode(b, signed)), signed)

  def mul(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).multiply(decode(b, signed)), signed)

  /** Integer division, truncated toward zero (hugeint.cpp Divide). */
  def div(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] = {
    val d = decode(b, signed)
    if (d.signum() == 0) null // reference: x // 0 is NULL (try-divide family)
    else encode(decode(a, signed).divide(d), signed)
  }

  /** Remainder with the dividend's sign (hugeint.cpp Modulo). */
  def mod(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] = {
    val d = decode(b, signed)
    if (d.signum() == 0) null
    else encode(decode(a, signed).remainder(d), signed)
  }

  def neg(a: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).negate(), signed)

  def abs(a: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).abs(), signed)

  private def shiftCount(b: Array[Byte], signed: Boolean): Int = {
    val v = decode(b, signed)
    if (v.signum() < 0) -1
    else if (v.compareTo(BigInteger.valueOf(256)) > 0) 256
    else v.intValue()
  }

  /** Bit shifts with the reference's out-of-range behavior
    * (test_hugeint_bitwise: count ≥ 128 or < 0 → 0). */
  def shl(a: Array[Byte], count: Array[Byte], signed: Boolean): Array[Byte] = {
    val c = shiftCount(count, signed)
    if (c < 0 || c >= 128) fromLong(0L, signed)
    else {
      val r = decode(a, signed).shiftLeft(c)
      if (!inRange(r, signed)) fromLong(0L, signed) else encode(r, signed)
    }
  }

  def shr(a: Array[Byte], count: Array[Byte], signed: Boolean): Array[Byte] = {
    val c = shiftCount(count, signed)
    if (c < 0 || c >= 128) fromLong(0L, signed)
    else encode(decode(a, signed).shiftRight(c), signed)
  }

  /** 128-bit two's-complement bitwise ops (BigInteger's infinite
    * two's complement agrees on in-range results). */
  def band(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).and(decode(b, signed)), signed)

  def bor(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).or(decode(b, signed)), signed)

  def bxor(a: Array[Byte], b: Array[Byte], signed: Boolean): Array[Byte] =
    encode(decode(a, signed).xor(decode(b, signed)), signed)
}

/** String → encoded INT128. */
case class HugeintParse(child: Expression, signed: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    HugeintKernel.parse(input.asInstanceOf[UTF8String], signed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HugeintKernel.parse($c, $signed)")
  override protected def withNewChildInternal(c: Expression): HugeintParse =
    copy(child = c)
}

/** Encoded INT128 → decimal string. */
case class HugeintRender(child: Expression, signed: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    HugeintKernel.render(input.asInstanceOf[Array[Byte]], signed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HugeintKernel.render($c, $signed)")
  override protected def withNewChildInternal(c: Expression): HugeintRender =
    copy(child = c)
}

/** Any integral/decimal/string/binary input → encoded INT128. */
case class HugeintLift(child: Expression, signed: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType |
          StringType | BinaryType | NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hugeint_lift: unsupported input type $t")
    }
  override def nullSafeEval(input: Any): Any = child.dataType match {
    case BinaryType => input // already encoded
    case StringType => HugeintKernel.parse(input.asInstanceOf[UTF8String], signed)
    case _: DecimalType =>
      HugeintKernel.encode(
        input.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.toBigIntegerExact, signed)
    case ByteType => HugeintKernel.fromLong(input.asInstanceOf[Byte].toLong, signed)
    case ShortType => HugeintKernel.fromLong(input.asInstanceOf[Short].toLong, signed)
    case IntegerType => HugeintKernel.fromLong(input.asInstanceOf[Int].toLong, signed)
    case _ => HugeintKernel.fromLong(input.asInstanceOf[Long], signed)
  }
  // type-dispatched codegen: one static kernel call per input type
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = "graft.plans.HugeintKernel"
    child.dataType match {
      case BinaryType => defineCodeGen(ctx, ev, c => c)
      case StringType => defineCodeGen(ctx, ev, c => s"$k.parse($c, $signed)")
      case _: DecimalType =>
        defineCodeGen(ctx, ev,
          c => s"$k.encode($c.toJavaBigDecimal().toBigIntegerExact(), $signed)")
      case _ =>
        defineCodeGen(ctx, ev, c => s"$k.fromLong((long) $c, $signed)")
    }
  }
  override protected def withNewChildInternal(c: Expression): HugeintLift =
    copy(child = c)
}

/** Binary arithmetic over encoded INT128s. */
case class HugeintBinOp(left: Expression, right: Expression, op: String,
    signed: Boolean) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    op match {
      case "add" => HugeintKernel.add(x, y, signed)
      case "sub" => HugeintKernel.sub(x, y, signed)
      case "mul" => HugeintKernel.mul(x, y, signed)
      case "div" => HugeintKernel.div(x, y, signed)
      case "mod" => HugeintKernel.mod(x, y, signed)
      case "shl" => HugeintKernel.shl(x, y, signed)
      case "shr" => HugeintKernel.shr(x, y, signed)
      case "and" => HugeintKernel.band(x, y, signed)
      case "or" => HugeintKernel.bor(x, y, signed)
      case _ => HugeintKernel.bxor(x, y, signed)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // bitwise kernel methods are named band/bor/bxor ("and"/"or" are Java keywords)
    val m = op match {
      case "and" => "band"; case "or" => "bor"; case "xor" => "bxor"; case o => o
    }
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.plans.HugeintKernel.$m($a, $b, $signed);
         |if (${ev.value} == null) ${ev.isNull} = true;""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : HugeintBinOp = copy(left = l, right = r)
}

/** Unary ops over encoded INT128s. */
case class HugeintUnOp(child: Expression, op: String, signed: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = op match {
    case "dbl" => DoubleType
    case "long" => LongType
    case _ => BinaryType
  }
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Array[Byte]]
    op match {
      case "neg" => HugeintKernel.neg(x, signed)
      case "abs" => HugeintKernel.abs(x, signed)
      case "dbl" => HugeintKernel.toDouble(x, signed)
      case _ => HugeintKernel.toLong(x, signed)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    op match {
      case "neg" | "abs" =>
        defineCodeGen(ctx, ev, c => s"graft.plans.HugeintKernel.${if (op == "neg") "neg" else "abs"}($c, $signed)")
      case "dbl" =>
        defineCodeGen(ctx, ev, c => s"graft.plans.HugeintKernel.toDouble($c, $signed)")
      case _ =>
        defineCodeGen(ctx, ev, c => s"graft.plans.HugeintKernel.toLong($c, $signed)")
    }
  override protected def withNewChildInternal(c: Expression): HugeintUnOp =
    copy(child = c)
}
