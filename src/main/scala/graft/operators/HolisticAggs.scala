package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Holistic aggregates the reference ships natively and Spark lacks,
  * registered under the reference's SQL names (plans/FunctionTable):
  *
  *  - histogram(x)          — reference aggregate/nested/histogram.cpp
  *  - entropy(x)            — aggregate/distributive/entropy.cpp
  *  - mad(x)                — aggregate/holistic/mad.cpp
  *  - bitstring_agg(x[,lo,hi]) — aggregate/distributive/bitstring_agg.cpp
  *
  * All are real Catalyst TypedImperativeAggregates: they ride partial
  * (map-side) aggregation, so per-group state crosses the shuffle once
  * per mapper like any built-in agg. histogram/entropy state is one
  * counter per DISTINCT value per group (the reference pays the same);
  * mad is holistic by definition (the reference also buffers the full
  * group); bitstring_agg state is the distinct-value set, never the
  * rendered bitmap.
  *
  * The behavioral oracle entries (f32/f28/f31/f33) pin the semantics
  * against DuckDB; these classes give the same semantics a NAME so the
  * reference's own query text runs verbatim (f73 entry + AliasesSpec).
  */
object HolisticAggs

/** Shared distinct-value → count buffer for histogram/entropy.
  * Keys are normalized per mode: L = long-backed integrals (byte/
  * short/int/long/date), D = double-backed (float/double), S = UTF8
  * strings. Key objects put into the map are defensive copies (scan
  * rows reuse buffers).
  */
final class ValueCountBuffer {
  val counts = new java.util.HashMap[Any, Array[Long]]()
}

abstract class ValueCountAggBase extends TypedImperativeAggregate[ValueCountBuffer] {
  def child: Expression

  override def children: Seq[Expression] = Seq(child)
  override def createAggregationBuffer(): ValueCountBuffer = new ValueCountBuffer

  /** 'L' long-backed, 'D' double-backed, 'S' string. Lazy: the child
    * is unresolved while the analyzer is still running.
    */
  protected lazy val mode: Char = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => 'L'
    case FloatType | DoubleType => 'D'
    case StringType => 'S'
    case other => throw new IllegalArgumentException(
      s"$prettyName: unsupported input type $other (integral, floating, string)")
  }

  private def normalize(v: Any): Any = mode match {
    case 'L' => v match {
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case l: Long => l
    }
    case 'D' => v match {
      case f: Float => f.toDouble
      case d: Double => d
    }
    case 'S' => v.asInstanceOf[UTF8String].clone()
  }

  override def update(buf: ValueCountBuffer, input: InternalRow): ValueCountBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val k = normalize(v)
      val e = buf.counts.get(k)
      if (e != null) e(0) += 1L else buf.counts.put(k, Array(1L))
    }
    buf
  }

  override def merge(buf: ValueCountBuffer, other: ValueCountBuffer): ValueCountBuffer = {
    other.counts.forEach { (k, c) =>
      val e = buf.counts.get(k)
      if (e != null) e(0) += c(0) else buf.counts.put(k, c)
    }
    buf
  }

  /** Keys ascending (numeric order / binary string order — DuckDB's
    * default VARCHAR collation is also binary), so both the map
    * render and any float accumulation downstream are deterministic
    * regardless of hash-iteration or partition order.
    */
  protected def sortedEntries(buf: ValueCountBuffer): Array[(Any, Long)] = {
    val arr = new Array[(Any, Long)](buf.counts.size)
    var i = 0
    buf.counts.forEach { (k, c) => arr(i) = (k, c(0)); i += 1 }
    java.util.Arrays.sort(arr, new java.util.Comparator[(Any, Long)] {
      override def compare(a: (Any, Long), b: (Any, Long)): Int = mode match {
        case 'L' => java.lang.Long.compare(a._1.asInstanceOf[Long], b._1.asInstanceOf[Long])
        case 'D' => java.lang.Double.compare(a._1.asInstanceOf[Double], b._1.asInstanceOf[Double])
        case 'S' => a._1.asInstanceOf[UTF8String].compareTo(b._1.asInstanceOf[UTF8String])
      }
    })
    arr
  }

  override def serialize(buf: ValueCountBuffer): Array[Byte] = {
    var size = 4
    buf.counts.forEach { (k, _) =>
      size += 8 + (if (mode == 'S') 4 + k.asInstanceOf[UTF8String].numBytes() else 8)
    }
    val bb = ByteBuffer.allocate(size)
    bb.putInt(buf.counts.size)
    buf.counts.forEach { (k, c) =>
      mode match {
        case 'L' => bb.putLong(k.asInstanceOf[Long])
        case 'D' => bb.putDouble(k.asInstanceOf[Double])
        case 'S' =>
          val bytes = k.asInstanceOf[UTF8String].getBytes
          bb.putInt(bytes.length); bb.put(bytes)
      }
      bb.putLong(c(0))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ValueCountBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new ValueCountBuffer
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val k: Any = mode match {
        case 'L' => bb.getLong
        case 'D' => bb.getDouble
        case 'S' =>
          val len = bb.getInt; val vb = new Array[Byte](len); bb.get(vb)
          UTF8String.fromBytes(vb)
      }
      buf.counts.put(k, Array(bb.getLong))
      i += 1
    }
    buf
  }

  /** Map a normalized key back to the child's Catalyst value. */
  protected def denormalize(k: Any): Any = child.dataType match {
    case ByteType => k.asInstanceOf[Long].toByte
    case ShortType => k.asInstanceOf[Long].toShort
    case IntegerType | DateType => k.asInstanceOf[Long].toInt
    case FloatType => k.asInstanceOf[Double].toFloat
    case _ => k
  }
}

/** histogram(x) → MAP<typeof(x), BIGINT>, keys ascending — the
  * reference's nested/histogram.cpp contract (NULLs skipped; an
  * empty / all-NULL group yields an empty map, as DuckDB does).
  */
case class HistogramAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ValueCountAggBase {

  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(child.dataType, LongType, valueContainsNull = false)

  override def eval(buf: ValueCountBuffer): Any = {
    val entries = sortedEntries(buf)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => denormalize(e._1)): Array[Any]),
      new GenericArrayData(entries.map(e => java.lang.Long.valueOf(e._2)): Array[Any]))
  }

  override def withNewMutableAggBufferOffset(o: Int): HistogramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistogramAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "histogram"
}

/** entropy(x) → DOUBLE: Shannon entropy in bits, the reference's
  * exact arrangement (entropy.cpp:58): Σ (c/n)·log2(n/c) over the
  * distinct values. Terms are accumulated in ascending key order, so
  * the float sum is reproducible at any parallelism (the reference's
  * own hash-order sum is not — results agree to ~1e-12; the f28
  * oracle entry compares on a 1e-9 grid for exactly this reason).
  * Empty/all-NULL group → 0.0 like the reference.
  */
case class EntropyAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ValueCountAggBase {

  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType

  override def eval(buf: ValueCountBuffer): Any = {
    val entries = sortedEntries(buf)
    var n = 0.0
    entries.foreach(n += _._2)
    if (n == 0.0) 0.0
    else {
      var h = 0.0
      entries.foreach { case (_, c) =>
        h += (c / n) * (math.log(n / c) / math.log(2.0))
      }
      h
    }
  }

  override def withNewMutableAggBufferOffset(o: Int): EntropyAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): EntropyAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EntropyAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "entropy"
}

/** mad(x) → DOUBLE: median(|x − median(x)|) with quantile_cont
  * interpolation at both levels (lower + (upper−lower)·frac — the
  * identical formula Spark's percentile and DuckDB's quantile share,
  * proven bit-exact by the f24 entry), matching holistic/mad.cpp.
  * Holistic by definition: the group's values are buffered, exactly
  * as the reference does. NULLs skipped; empty group → NULL.
  */
case class MadAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ReservoirBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def createAggregationBuffer(): ReservoirBuffer = new ReservoirBuffer

  override def update(buf: ReservoirBuffer, input: InternalRow): ReservoirBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val d = v match {
        case d: Double => d
        case f: Float => f.toDouble
        case b: Byte => b.toDouble
        case s: Short => s.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      }
      buf.values += d
    }
    buf
  }

  override def merge(buf: ReservoirBuffer, other: ReservoirBuffer): ReservoirBuffer = {
    buf.values ++= other.values
    buf
  }

  /** Interpolated quantile of a SORTED array — Spark Percentile /
    * DuckDB quantile_cont operation order: lower + (upper−lower)·frac.
    */
  private def quantileCont(sorted: Array[Double], q: Double): Double = {
    val pos = (sorted.length - 1) * q
    val lo = pos.toInt
    val frac = pos - lo
    if (frac == 0.0) sorted(lo)
    else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
  }

  override def eval(buf: ReservoirBuffer): Any = {
    if (buf.values.isEmpty) null
    else {
      val sorted = buf.values.toArray
      java.util.Arrays.sort(sorted)
      val med = quantileCont(sorted, 0.5)
      val devs = sorted.map(x => math.abs(x - med))
      java.util.Arrays.sort(devs)
      quantileCont(devs, 0.5)
    }
  }

  override def serialize(buf: ReservoirBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.values.length)
    bb.putInt(buf.values.length)
    buf.values.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ReservoirBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new ReservoirBuffer
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.values += bb.getDouble; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MadAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MadAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MadAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "mad"
}

/** Fixed-size per-bin counters for the binned histogram variants. */
final class BinCountsBuffer(n: Int) {
  val counts = new Array[Long](n)
}

/** histogram(x, bins) / histogram_exact(x, bins) → MAP<typeof(x),
  * BIGINT> — the reference's binned_histogram.cpp contract:
  *
  *  - bins are plan constants, sorted and deduplicated at bind time;
  *  - range variant: a value lands in the FIRST bin whose boundary is
  *    ≥ the value (lower_bound); exact variant: only on equality;
  *  - everything past the last boundary (or unequal, for exact) lands
  *    in the overflow "other" bucket, keyed by the type's sentinel
  *    (+∞ / MaxValue for numerics, '' for strings —
  *    OtherBucketValue), which appears in the map only when occupied;
  *  - NULL inputs are skipped; an empty group still reports every
  *    bin with count 0 (the reference emits all boundaries).
  *
  * State is bins+1 longs per group — fixed-size, partial-agg
  * friendly, far narrower than the distinct-value histogram's map.
  */
case class BinnedHistogramAgg(
    child: Expression,
    binsRaw: Seq[Any],
    exact: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BinCountsBuffer] {

  override def children: Seq[Expression] = Seq(child)
  // the reference yields NULL for a group with no non-NULL input (bins
  // initialize on first update) — mirrored in eval
  override def nullable: Boolean = true
  override def dataType: DataType =
    MapType(child.dataType, LongType, valueContainsNull = false)

  private lazy val mode: Char = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => 'L'
    case FloatType | DoubleType => 'D'
    case _: DecimalType => 'D' // decimal bins ride the double path
    case StringType => 'S'
    case other => throw new IllegalArgumentException(
      s"$prettyName: unsupported input type $other")
  }

  private def normalize(v: Any): Any = mode match {
    case 'L' => v match {
      case b: Byte => b.toLong; case s: Short => s.toLong
      case i: Int => i.toLong; case l: Long => l
      case d: Double => d.toLong
      case dec: Decimal => dec.toLong
    }
    case 'D' => v match {
      case f: Float => f.toDouble; case d: Double => d
      case b: Byte => b.toDouble; case s: Short => s.toDouble
      case i: Int => i.toDouble; case l: Long => l.toDouble
      case dec: Decimal => dec.toDouble
    }
    case 'S' => v match {
      case u: UTF8String => u
      case s: String => UTF8String.fromString(s)
    }
  }

  /** Sorted, deduplicated boundaries in normalized form. */
  private lazy val bins: Array[Any] = {
    val norm = binsRaw.map { b =>
      require(b != null, "Histogram bin entry cannot be NULL")
      normalize(b)
    }
    val sorted = mode match {
      case 'L' => norm.map(_.asInstanceOf[Long]).distinct.sorted.toArray[Any]
      case 'D' => norm.map(_.asInstanceOf[Double]).distinct.sorted.toArray[Any]
      case 'S' => norm.map(_.asInstanceOf[UTF8String]).distinct
        .sortWith(_.compareTo(_) < 0).toArray[Any]
    }
    sorted
  }

  /** lower_bound: index of first boundary ≥ v; bins.length if none. */
  private def lowerBound(v: Any): Int = {
    var lo = 0
    var hi = bins.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val lt = mode match {
        case 'L' => bins(mid).asInstanceOf[Long] < v.asInstanceOf[Long]
        case 'D' => bins(mid).asInstanceOf[Double] < v.asInstanceOf[Double]
        case 'S' => bins(mid).asInstanceOf[UTF8String].compareTo(v.asInstanceOf[UTF8String]) < 0
      }
      if (lt) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def binEquals(i: Int, v: Any): Boolean = mode match {
    case 'L' => bins(i).asInstanceOf[Long] == v.asInstanceOf[Long]
    case 'D' => bins(i).asInstanceOf[Double] == v.asInstanceOf[Double]
    case 'S' => bins(i).asInstanceOf[UTF8String].equals(v.asInstanceOf[UTF8String])
  }

  override def createAggregationBuffer(): BinCountsBuffer =
    new BinCountsBuffer(bins.length + 1)

  override def update(buf: BinCountsBuffer, input: InternalRow): BinCountsBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val k = normalize(v)
      val idx0 = lowerBound(k)
      val idx =
        if (!exact) idx0
        else if (idx0 < bins.length && binEquals(idx0, k)) idx0
        else bins.length
      buf.counts(idx) += 1L
    }
    buf
  }

  override def merge(buf: BinCountsBuffer, other: BinCountsBuffer): BinCountsBuffer = {
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) += other.counts(i); i += 1 }
    buf
  }

  private def denormalize(k: Any): Any = child.dataType match {
    case ByteType => k.asInstanceOf[Long].toByte
    case ShortType => k.asInstanceOf[Long].toShort
    case IntegerType | DateType => k.asInstanceOf[Long].toInt
    case FloatType => k.asInstanceOf[Double].toFloat
    case dt: DecimalType => Decimal(BigDecimal(k.asInstanceOf[Double])
      .setScale(dt.scale, BigDecimal.RoundingMode.HALF_UP))
    case _ => k
  }

  /** OtherBucketValue: +∞ / MaxValue / '' in the child's type. */
  private def otherKey: Any = child.dataType match {
    case ByteType => Byte.MaxValue
    case ShortType => Short.MaxValue
    case IntegerType | DateType => Int.MaxValue
    case LongType | TimestampType => Long.MaxValue
    case FloatType => Float.PositiveInfinity
    case DoubleType => Double.PositiveInfinity
    case dt: DecimalType => // MaximumValue(type): all-nines at (p, s)
      Decimal(BigDecimal(BigInt("9" * dt.precision), dt.scale))
    case StringType => UTF8String.EMPTY_UTF8
  }

  override def eval(buf: BinCountsBuffer): Any = {
    if (buf.counts.forall(_ == 0L)) return null
    val overflow = buf.counts(bins.length) > 0
    val n = bins.length + (if (overflow) 1 else 0)
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    while (i < bins.length) {
      keys(i) = denormalize(bins(i)); vals(i) = buf.counts(i); i += 1
    }
    if (overflow) { keys(n - 1) = otherKey; vals(n - 1) = buf.counts(bins.length) }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def serialize(buf: BinCountsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.counts.length)
    bb.putInt(buf.counts.length)
    buf.counts.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BinCountsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new BinCountsBuffer(n)
    var i = 0
    while (i < n) { buf.counts(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BinnedHistogramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BinnedHistogramAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BinnedHistogramAgg =
    copy(child = newChildren.head)
  override def prettyName: String = if (exact) "histogram_exact" else "histogram"
}

/** Distinct-value set + observed extent for bitstring_agg. */
final class BitSetBuffer {
  val values = new java.util.HashSet[Long]()
}

/** bitstring_agg(x[, lo, hi]) → the reference's presence bitmap
  * rendered in its BIT::VARCHAR form: a '0'/'1' string of length
  * hi−lo+1 whose LEFTMOST character is value `lo`
  * (distributive/bitstring_agg.cpp; pinned: {3,5,7} over [1,8] →
  * '00101010', 1-arg {3,5,7} → '10101'). Without explicit bounds the
  * extent is the group's observed min/max — the reference uses column
  * statistics for the same purpose and errors when it can't; on
  * Spark the observed extent IS exact per group. Values outside
  * explicit bounds error, like the reference. State is the distinct
  * value SET (not the bitmap), so partial aggregation ships only
  * what the group actually contains; the render is bounded to 1M
  * bits to fail fast rather than materialize a runaway string.
  */
case class BitstringAgg(
    child: Expression,
    bounds: Option[(Long, Long)],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitSetBuffer] {

  bounds.foreach { case (lo, hi) =>
    require(lo <= hi, s"bitstring_agg: min $lo > max $hi") }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StringType

  override def createAggregationBuffer(): BitSetBuffer = new BitSetBuffer

  override def update(buf: BitSetBuffer, input: InternalRow): BitSetBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val l = v match {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case i: Int => i.toLong
        case l: Long => l
        case other => throw new IllegalArgumentException(
          s"bitstring_agg: integral input required, got $other")
      }
      bounds.foreach { case (lo, hi) =>
        if (l < lo || l > hi) throw new IllegalArgumentException(
          s"bitstring_agg: value $l outside [$lo, $hi]") }
      buf.values.add(l)
    }
    buf
  }

  override def merge(buf: BitSetBuffer, other: BitSetBuffer): BitSetBuffer = {
    buf.values.addAll(other.values)
    buf
  }

  override def eval(buf: BitSetBuffer): Any = {
    if (buf.values.isEmpty) null
    else {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      buf.values.forEach { v => if (v < lo) lo = v; if (v > hi) hi = v }
      val (renderLo, renderHi) = bounds.getOrElse((lo, hi))
      val len = renderHi - renderLo + 1
      require(len <= 1000000L,
        s"bitstring_agg: bitmap of $len bits exceeds the 1M guard")
      val chars = new Array[Byte](len.toInt)
      java.util.Arrays.fill(chars, '0'.toByte)
      buf.values.forEach { v => chars((v - renderLo).toInt) = '1'.toByte }
      UTF8String.fromBytes(chars)
    }
  }

  override def serialize(buf: BitSetBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.values.size)
    bb.putInt(buf.values.size)
    buf.values.forEach(v => bb.putLong(v))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BitSetBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new BitSetBuffer
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.values.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BitstringAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitstringAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitstringAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "bitstring_agg"
}
