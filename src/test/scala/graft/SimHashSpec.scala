package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextOps
import graft.plans.SimHashBucketPairs

/** Properties of the two SimHash kernels behind `Dedup.simhashPairs`,
  * each against a naive reference on generated input:
  *  - the fused token-hash kernel (`TextOps.simhashBlocks`) equals the
  *    Spark composition `transform(filter(split(lower(t),
  *    '\\s+'), t -> length(t) > 0), t -> xxhash64(t))` voted into 4×16-bit
  *    blocks;
  *  - `SimHashBucketPairs` emits exactly the pairs of a nested loop.
  */
class SimHashSpec extends AnyFunSuite {
  import TestSession.spark

  private def check(p: Prop, tests: Int): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(tests).withInitialSeed(13L), p)
    assert(r.passed, r.status.toString)
  }

  /** The SimHash vote over token hashes: a bit is set where more than
    * half the hashes set it, folded MSB-first into 4×16-bit blocks.
    */
  private def vote(hs: Seq[Long]): Seq[Long] = (0 until 4).map { b =>
    (0 until 16).foldLeft(0L) { (acc, i) =>
      val k = b * 16 + i
      acc * 2 + (if (hs.count(h => ((h >>> k) & 1L) == 1L) * 2 > hs.size) 1L else 0L)
    }
  }

  // Java's \s is exactly these six bytes; NBSP, an em space, the
  // ideographic space and NEL are not \s and stay inside tokens
  private val asciiSpace = Seq(" ", "\t", "\n", "\u000b", "\f", "\r")
  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(asciiSpace),
    2 -> Gen.oneOf(asciiSpace).flatMap(s => Gen.choose(2, 4).map(s * _)),
    10 -> Gen.oneOf("a", "Z", "q", "7", "é", "É", "ß", "İ", "Σ", "ς", "中", "😀", "ǅ", "-", "'"),
    4 -> Gen.alphaStr.map(_.take(6)),
    3 -> Gen.oneOf("\u00a0", "\u2003", "\u3000", "\u0085"))
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    1 -> Gen.listOf(Gen.oneOf(asciiSpace)).map(_.mkString),
    12 -> Gen.listOf(piece).map(_.mkString))

  test("the fused SimHash kernel equals the split/xxhash64 composition on generated text") {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("t", StringType)))
    check(Prop.forAll(Gen.listOfN(40, text)) { texts =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(texts.zipWithIndex.map { case (t, i) => Row(i, t) }: _*), schema)
      val rows = df.select(col("i"),
          TextOps.simhashBlocks(col("t")).as("fused"),
          transform(TextOps.wordTokens(col("t")), t => xxhash64(t)).as("hs"))
        .collect()
      rows.length == texts.size && rows.forall { r =>
        if (r.isNullAt(2)) r.isNullAt(1)
        else !r.isNullAt(1) && r.getSeq[Long](1) == vote(r.getSeq[Long](2))
      }
    }, tests = 25)
  }

  private val memberType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("blocks", ArrayType(LongType, containsNull = false)))))

  /** One bucket: ids from a small range (so duplicates occur, and a few
    * NULLs), fingerprints a few bit flips from a shared base.
    */
  private val bucket: Gen[Seq[(Option[Long], Seq[Long])]] = for {
    base <- Gen.listOfN(4, Gen.choose(0L, 0xffffL))
    n <- Gen.choose(0, 24)
    ms <- Gen.listOfN(n, for {
      id <- Gen.frequency(12 -> Gen.choose(0L, 30L).map(Option(_)), 1 -> Gen.const(None))
      flips <- Gen.listOf(Gen.choose(0, 63)).map(_.take(5))
    } yield id -> flips.foldLeft(base) { (bs, k) => bs.updated(k / 16, bs(k / 16) ^ (1L << (k % 16))) })
  } yield ms

  test("SimHashBucketPairs emits exactly the nested loop's pairs within the hamming bound") {
    check(Prop.forAll(bucket, Gen.choose(0, 6)) { (ms, maxHamming) =>
      val members = new GenericArrayData(ms.map { case (id, bs) =>
        new GenericInternalRow(Array[Any](id.orNull, new GenericArrayData(bs.toArray)))
      }.toArray[Any])
      val gen = SimHashBucketPairs(BoundReference(0, memberType, nullable = true), maxHamming)
      val got = gen.eval(InternalRow(members)).iterator
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val ref = for {
        i <- ms.indices; j <- ms.indices if i < j
        (ia, ba) = ms(i); (ib, bb) = ms(j) if ia.nonEmpty && ib.nonEmpty && ia != ib
        d = ba.zip(bb).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum if d <= maxHamming
      } yield (math.min(ia.get, ib.get), math.max(ia.get, ib.get), d)
      got.sorted == ref.sorted
    }, tests = 300)
  }
}
