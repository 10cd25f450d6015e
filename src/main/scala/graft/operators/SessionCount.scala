package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

import graft.plans.HashExpressions

/** Per-group gap-sessionization as a custom TYPED IMPERATIVE AGGREGATE
  * — the batch fast path for "how many sessions per user".
  *
  * The window formulation (lag → flag → count) pays a full exchange of
  * every event row plus a partition-wide sort plus the window
  * operator's frame machinery. This aggregate collects each user's
  * raw timestamps into a primitive long buffer (map-side partial
  * aggregation — the shuffle then carries ONE buffer row per user per
  * mapper, not one row per event), sorts the few-hundred-element
  * buffer at eval, and counts gaps > `gapMicros`. Same result, no
  * global sort, no window exec: measured 2.07 s → ~1.3 s on 15 M
  * events / 100 k users (sf10, commit d7f6a27 — same A/B quoted in
  * queries/StreamingQ.scala).
  *
  * Scale posture: buffer size is the per-GROUP event count — the same
  * per-user working set any exact sessionizer needs. For unbounded
  * streams use streaming/Sessionize (watermarked state); this is the
  * bounded-batch path. Reference counterpart: DuckDB sessionizes via
  * its radix-partitioned window (src/execution/window_segment_tree.cpp
  * machinery); on Spark the aggregate shape wins because it dodges the
  * row-at-a-time window evaluation entirely.
  */
object SessionCount {
  /** COUNT of sessions for a group of epoch-µs timestamps, where a gap
    * > `gapMicros` starts a new session. 0 for an all-NULL group.
    */
  def sessionCount(tsMicros: Column, gapMicros: Long): Column =
    HashExpressions.columnOf(
      SessionCountAgg(HashExpressions.exprOf(tsMicros), gapMicros)
        .toAggregateExpression())
}

/** Growable primitive buffer — no boxing, amortized append. */
final class TsBuffer(var arr: Array[Long], var n: Int) {
  def append(v: Long): Unit = {
    if (n == arr.length) {
      arr = java.util.Arrays.copyOf(arr, math.max(8, arr.length * 2))
    }
    arr(n) = v
    n += 1
  }
}

case class SessionCountAgg(
    child: Expression,
    gapMicros: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TsBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  // no ExpectsInputTypes: the caller passes epoch-µs longs by contract
  // (SessionCount.sessionCount applies the unix_micros projection)

  override def createAggregationBuffer(): TsBuffer =
    new TsBuffer(new Array[Long](8), 0)

  // per-row fast path: by evaluation time the child is a
  // BoundReference to the projected epoch-µs column — read the long
  // primitively instead of boxing 15M java.lang.Longs through eval
  // (r13: the scan+partial stage is the whole remaining st02 gap)
  @transient private[this] var boundOrd: Int = -2 // -2 unresolved, -1 general

  override def update(buf: TsBuffer, input: InternalRow): TsBuffer = {
    if (boundOrd == -2) boundOrd = child match {
      case b: org.apache.spark.sql.catalyst.expressions.BoundReference
        if b.dataType == LongType => b.ordinal
      case _ => -1
    }
    if (boundOrd >= 0) {
      if (!input.isNullAt(boundOrd)) buf.append(input.getLong(boundOrd))
    } else {
      val v = child.eval(input)
      if (v != null) buf.append(v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TsBuffer, other: TsBuffer): TsBuffer = {
    var i = 0
    while (i < other.n) { buf.append(other.arr(i)); i += 1 }
    buf
  }

  override def eval(buf: TsBuffer): Any = {
    if (buf.n == 0) return 0L
    java.util.Arrays.sort(buf.arr, 0, buf.n)
    var sessions = 1L
    var i = 1
    while (i < buf.n) {
      if (buf.arr(i) - buf.arr(i - 1) > gapMicros) sessions += 1
      i += 1
    }
    sessions
  }

  override def serialize(buf: TsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.n * 8)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bytes.length / 8
    val arr = new Array[Long](math.max(8, n))
    var i = 0
    while (i < n) { arr(i) = bb.getLong(); i += 1 }
    new TsBuffer(arr, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SessionCountAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SessionCountAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SessionCountAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "session_count"
}
