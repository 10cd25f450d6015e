package graft.plans

import java.math.BigInteger

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** VARINT — the reference's arbitrary-precision integer
  * (src/common/types/varint.cpp, test/sql/types/varint/) past even
  * the HUGEINT/INT128 kernels. Same design as [[HugeintKernel]], one
  * step further up the ladder:
  *
  * Representation: an ORDER-PRESERVING variable-length binary.
  *   positive/zero: 0x01 · [magnitude length, 4B BE] · magnitude (BE,
  *     minimal, no leading zero; zero = single 0x00 byte)
  *   negative:      0x00 · [0xFFFFFFFF − length, 4B BE] · ~magnitude
  * Bytewise-unsigned comparison equals numeric order (longer positive
  * magnitude = larger; for negatives the inverted length and
  * complemented digits reverse the order exactly), so =, <, GROUP BY,
  * ORDER BY on encoded values are NATIVE Spark BinaryType operations
  * — the same trick the reference's own varint.cpp plays (its storage
  * header is likewise chosen so memcmp works). Only parse/render/
  * to-double go through kernels; arithmetic past INT128 is out of the
  * minimum-viable scope (the reference sums VARINT via DOUBLE
  * anyway: test_big_varint.test renders 1.11e+99).
  *
  * Dialect wiring: VARINT DDL columns map to BINARY; every
  * `x::VARINT` / CAST(x AS VARINT) lifts through varint(); a
  * varint-tagged expression casts back out via varint_str /
  * varint_dbl (DuckDialect.castVarint).
  */
object VarintKernel {

  def encode(v: BigInteger): Array[Byte] = {
    val neg = v.signum() < 0
    val mag0 = v.abs().toByteArray // BE, may carry a 0x00 sign byte
    val off = if (mag0.length > 1 && mag0(0) == 0) 1 else 0
    val len = mag0.length - off
    val out = new Array[Byte](5 + len)
    out(0) = if (neg) 0x00 else 0x01
    val lenField = if (neg) ~len else len
    out(1) = (lenField >>> 24).toByte
    out(2) = (lenField >>> 16).toByte
    out(3) = (lenField >>> 8).toByte
    out(4) = lenField.toByte
    var i = 0
    while (i < len) {
      out(5 + i) = if (neg) (~mag0(off + i)).toByte else mag0(off + i)
      i += 1
    }
    out
  }

  def decode(b: Array[Byte]): BigInteger = {
    require(b.length >= 5, s"varint: malformed encoding (${b.length} bytes)")
    val neg = b(0) == 0x00
    val mag = new Array[Byte](b.length - 5)
    var i = 0
    while (i < mag.length) {
      mag(i) = if (neg) (~b(5 + i)).toByte else b(5 + i)
      i += 1
    }
    val v = new BigInteger(1, mag)
    if (neg) v.negate() else v
  }

  def parse(s: UTF8String): Array[Byte] = {
    val t = s.toString.trim
    val v =
      try new BigInteger(if (t.startsWith("+")) t.substring(1) else t)
      catch {
        case _: NumberFormatException =>
          throw new ArithmeticException(
            s"Could not convert string '$t' to VARINT")
      }
    encode(v)
  }

  def fromLong(v: Long): Array[Byte] = encode(BigInteger.valueOf(v))

  def fromDecimal(d: Decimal): Array[Byte] =
    encode(d.toBigDecimal.toBigInt.bigInteger)

  def render(b: Array[Byte]): UTF8String =
    UTF8String.fromString(decode(b).toString)

  def toDouble(b: Array[Byte]): Double = decode(b).doubleValue()
}

/** Any exact numeric / digit string → encoded VARINT. */
case class VarintLift(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => VarintKernel.parse(s)
    case b: Array[Byte] => b // already in kernel form
    case d: Decimal => VarintKernel.fromDecimal(d)
    case b: Byte => VarintKernel.fromLong(b.toLong)
    case s: Short => VarintKernel.fromLong(s.toLong)
    case i: Int => VarintKernel.fromLong(i.toLong)
    case l: Long => VarintKernel.fromLong(l)
    case d: Double => VarintKernel.fromDecimal(Decimal(BigDecimal(d).setScale(0, BigDecimal.RoundingMode.DOWN)))
    case other => throw new IllegalArgumentException(
      s"varint: cannot lift $other (${child.dataType})")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c => s"graft.plans.VarintKernel.parse($c)")
      case BinaryType =>
        defineCodeGen(ctx, ev, c => c)
      case ByteType | ShortType | IntegerType | LongType =>
        defineCodeGen(ctx, ev, c => s"graft.plans.VarintKernel.fromLong((long) $c)")
      case _: DecimalType =>
        defineCodeGen(ctx, ev, c => s"graft.plans.VarintKernel.fromDecimal($c)")
      case _ =>
        defineCodeGen(ctx, ev, c =>
          s"graft.plans.VarintKernel.parse(org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf($c)))")
    }
  override protected def withNewChildInternal(c: Expression): VarintLift =
    copy(child = c)
}

/** Encoded VARINT → decimal digit string. */
case class VarintRender(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    VarintKernel.render(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VarintKernel.render($c)")
  override protected def withNewChildInternal(c: Expression): VarintRender =
    copy(child = c)
}

/** Encoded VARINT → DOUBLE (the reference's own overflow escape). */
case class VarintToDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    VarintKernel.toDouble(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VarintKernel.toDouble($c)")
  override protected def withNewChildInternal(c: Expression): VarintToDouble =
    copy(child = c)
}
