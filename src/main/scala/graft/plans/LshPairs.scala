package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Bucket-local LSH pair generation: one surviving band bucket's
  * members in, its candidate pairs out — the generator form of the
  * self-equi-join on (band, bandHash).
  *
  * Why a generator and not a join: the join shuffles each doc's
  * signature payload TWICE (build + probe side of the same bucket) and
  * hashes one full side into per-partition maps; grouping the bucket
  * once (`groupBy(bk).agg(collect_list(...))`) ships the payload once
  * and hands this kernel a contiguous member array, with the emit-once
  * band test, the signature-agreement estimate, and (optionally) the
  * exact gram-Jaccard fused into one primitive loop per pair — a pair
  * row below threshold never exists at all. Same pair set as the join
  * by construction: i<j over the member array ≡ id_a<id_b over the
  * bucket cross product, and the per-pair filters are verbatim.
  *
  * Scale posture: callers only group buckets that survived the
  * stop-band cap, so the member array is bounded by `maxBucket` (the
  * worst group is maxBucket × ~(sig+grams) bytes, far under any
  * executor's memory), and per-bucket work is bounded by maxBucket²
  * signature compares regardless of corpus size.
  *
  * `withGrams = false`: members are (id, sig, m); emits
  * (id_a, id_b, est_jaccard) where est ≥ threshold.
  * `withGrams = true`: members are (id, sig, m, grams); emits
  * (id_a, id_b, jaccard) for pairs with est ≥ threshold AND exact
  * jaccard ≥ minJaccard (sorted-merge intersection; inputs sorted
  * distinct — guaranteed by wordNgramHashes). Consumers that go on to
  * filter the exact jaccard (cluster building) push that threshold
  * here so a rejected pair is never emitted as a row at all.
  */
case class LshBucketPairs(
    members: Expression,
    band: Expression,
    numHashes: Int,
    threshold: Double,
    withGrams: Boolean,
    minJaccard: Double = 0.0)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(members, band)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LshBucketPairs =
    copy(members = newChildren(0), band = newChildren(1))

  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField(if (withGrams) "jaccard" else "est_jaccard",
      DoubleType, nullable = false)))

  private val structFields = if (withGrams) 4 else 3

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = members.eval(input)
    val bandV = band.eval(input)
    if (arr == null || bandV == null) return Iterator.empty
    val a = arr.asInstanceOf[ArrayData]
    val bandIdx = bandV.asInstanceOf[Number].longValue()
    val m = a.numElements()
    if (m < 2) return Iterator.empty

    // unpack once: primitive arrays per member, no per-pair extraction
    val ids = new Array[Long](m)
    val sigs = new Array[Array[Int]](m)
    val masks = new Array[Array[Long]](m)
    val grams = if (withGrams) new Array[Array[Long]](m) else null
    var i = 0
    while (i < m) {
      val row = a.getStruct(i, structFields)
      ids(i) = row.getLong(0)
      sigs(i) = row.getArray(1).toIntArray()
      masks(i) = row.getArray(2).toLongArray()
      if (withGrams) grams(i) = row.getArray(3).toLongArray()
      i += 1
    }

    new BucketPairIterator(m) {
      protected def pair(i: Int, j: Int): InternalRow = {
        // emit-once: this bucket is the pair's first shared surviving band
        if (HashKernels.firstEqualLong(masks(i), masks(j)) != bandIdx) return null
        val est = HashKernels.agreeCountInts(sigs(i), sigs(j)).toDouble / numHashes
        if (est < threshold) return null
        val lo = math.min(ids(i), ids(j))
        val hi = math.max(ids(i), ids(j))
        if (!withGrams) return new GenericInternalRow(Array[Any](lo, hi, est))
        val (gi, gj) = (grams(i), grams(j))
        val inter = HashKernels.sortedIntersectLong(gi, gj)
        val jac = inter.toDouble / math.max(gi.length + gj.length - inter, 1L)
        if (jac >= minJaccard) new GenericInternalRow(Array[Any](lo, hi, jac)) else null
      }
    }
  }
}

/** Bucket-local SimHash pair generation, the generator form of the
  * bucket self-join: one surviving (block_idx, block_val) bucket's
  * `(id, blocks)` members in, `(id_a, id_b, hamming)` out for each
  * member pair with distinct non-NULL ids (id_a < id_b) and hamming ≤
  * `maxHamming`. The four 16-bit blocks of [[SimHashBlocks]] are
  * unpacked once per member into its 64-bit fingerprint, so a
  * candidate costs one xor and one popcount. A pair sharing k buckets
  * comes out k times; the caller's `distinct` keeps one.
  *
  * Scale posture as [[LshBucketPairs]]: the caller groups only buckets
  * within the `maxBucket` cap, so a bucket's work is at most
  * maxBucket² popcounts, and the iterator is lazy — a bucket's pairs
  * are never buffered.
  */
case class SimHashBucketPairs(members: Expression, maxHamming: Int)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(members)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashBucketPairs =
    copy(members = newChildren(0))

  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("hamming", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = members.eval(input)
    if (arr == null) return Iterator.empty
    val a = arr.asInstanceOf[ArrayData]

    // unpack once; a member with a NULL id or blocks pairs with nothing
    val ids = new Array[Long](a.numElements())
    val fps = new Array[Long](a.numElements())
    var m = 0
    var k = 0
    while (k < a.numElements()) {
      val row = a.getStruct(k, 2)
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val blocks = row.getArray(1)
        var fp = 0L
        var b = 0
        while (b < blocks.numElements()) { fp = (fp << 16) | blocks.getLong(b); b += 1 }
        ids(m) = row.getLong(0)
        fps(m) = fp
        m += 1
      }
      k += 1
    }
    new BucketPairIterator(m) {
      protected def pair(i: Int, j: Int): InternalRow = {
        val d = java.lang.Long.bitCount(fps(i) ^ fps(j))
        if (ids(i) == ids(j) || d > maxHamming) null
        else new GenericInternalRow(Array[Any](
          math.min(ids(i), ids(j)), math.max(ids(i), ids(j)), d.toLong))
      }
    }
  }
}

/** The pairs i < j of a bucket's `m` members, lazily: `pair(i, j)` gives
  * a pair's row, or null when the pair emits none. A bucket's pair
  * space is never buffered; the consumer pulls one row at a time
  * straight out of the loop state.
  */
private[plans] abstract class BucketPairIterator(m: Int) extends Iterator[InternalRow] {
  protected def pair(i: Int, j: Int): InternalRow

  private var i = 0
  private var j = 1
  private var nextRow: InternalRow = null
  private var ready = false

  override def hasNext: Boolean = {
    while (!ready) {
      if (i >= m - 1) ready = true
      else {
        nextRow = pair(i, j)
        j += 1
        if (j >= m) { i += 1; j = i + 1 }
        ready = nextRow != null
      }
    }
    nextRow != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    ready = false
    val r = nextRow
    nextRow = null
    r
  }
}
