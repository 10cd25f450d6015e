package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hashing/vector hot paths.
  *
  * Spark's higher-order array functions (`transform`/`filter`/
  * `aggregate`) evaluate their lambdas interpreted — per-element boxing
  * and a fresh array per nesting level. For minhash (64 permutations ×
  * hundreds of shingles per row) that is ~10⁹ boxed ops per 50k docs.
  * Each expression here runs one tight primitive loop per row (see
  * [[HashKernels]]) and participates in whole-stage codegen: doGenCode
  * emits a single static kernel call, so there is NO CodegenFallback
  * anywhere on these paths — no per-row virtual dispatch, no boxing,
  * no interpreted-projection stage breaks.
  */
object HashExpressions {
  /** 2^31-1; universal hashing modulus (keeps a*h+b under 2^62). */
  val MersenneP: Long = HashKernels.MersenneP

  /** Column ↔ Expression bridge for the classic (non-Connect) API. */
  def columnOf(e: Expression): Column = GraftBridge.columnOf(e)

  def exprOf(c: Column): Expression = GraftBridge.exprOf(c)

  private[plans] val kernels = "graft.plans.HashKernels"
}

/** Distinct 31-bit rolling hashes of the byte k-grams of a string —
  * the shingle+hash+dedup pipeline fused into one allocation-free pass
  * (a `transform(sequence…substr)` expression tree allocates a
  * substring per position and evaluates interpreted).
  */
case class CharShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.charShingleHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.charShingleHashes($c, $k)")

  override protected def withNewChildInternal(c: Expression): CharShingleHashes =
    copy(child = c)
}

/** Distinct hashes of the word n-grams of a string — tokenize
  * (whitespace, ASCII-lowercased), hash each token, combine n
  * consecutive token hashes, dedupe. Replaces split+transform+slice+
  * concat_ws trees (interpreted) for exact-Jaccard verification, where
  * comparing gram HASHES instead of gram strings is both faster and
  * collision-negligible at 64 bits.
  */
case class WordNgramHashes(child: Expression, n: Int) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.wordNgramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.wordNgramHashes($c, $n)")

  override protected def withNewChildInternal(c: Expression): WordNgramHashes =
    copy(child = c)
}

/** Cosine similarity of two float vectors, accumulated left-to-right
  * in double (engine-portable: same order ⇒ same bits as DuckDB's
  * list_sum-over-list_transform form). Zero-norm vectors yield 0.0
  * (never NaN); a dimension mismatch throws instead of silently
  * truncating (a corrupt embedding column should surface, not sort
  * unpredictably through threshold filters).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      HashKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Winnowing fingerprint (MOSS-style, simplified) fused into one pass:
  * k-gram rolling hashes → min of each sliding window of w → distinct
  * sorted mins → one mixed 64-bit id. O(bytes · w) primitive ops.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.winnowFingerprint(input.asInstanceOf[UTF8String], k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.winnowFingerprint($c, $k, $w)")

  override protected def withNewChildInternal(c: Expression): WinnowFingerprint =
    copy(child = c)
}

/** sig[i] = min over shingle-hashes h of ((a(i)*h + b(i)) mod p).
  * Input: array<long> of 31-bit shingle hashes. Output: array<int> —
  * every value is < 2^31-1 by construction, and the signature is the
  * dominant payload of the LSH shuffles, so the packed form halves
  * the dedup pipelines' wire bytes.
  * The permutation arrays ride into the generated class as reference
  * objects; all locals live inside the kernel (no generated-name
  * collisions when the expression appears twice in one stage).
  */
case class MinHashSignature(child: Expression, as: Array[Long], bs: Array[Long])
    extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhash(input.asInstanceOf[ArrayData], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    defineCodeGen(ctx, ev, c => s"$kernels.minhash($c, $asRef, $bsRef)")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** SimHash fingerprint of a text as 4×16-bit blocks (the pigeonhole
  * blocking unit for hamming ≤ 3 joins): tokenize on ASCII whitespace,
  * hash each token and vote the 64 bits in one pass ([[HashKernels.simhashText]]).
  * The input is tokenized as is; callers lower-case it with Spark's
  * `lower` first.
  */
case class SimHashBlocks(child: Expression) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhashText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.simhashText($c)")

  override protected def withNewChildInternal(c: Expression): SimHashBlocks =
    copy(child = c)
}

/** Count of positions where two packed int signatures agree — minhash
  * signature agreement for estimated jaccard (one loop vs. an
  * interpreted zip_with + aggregate pair).
  */
case class ArrayAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.agreeCountInt(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernels.agreeCountInt($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayAgreeCount =
    copy(left = l, right = r)
}

/** Index of the first position where two long arrays agree (-1 = none)
  * — the emit-once band selector for LSH self-joins (see
  * HashKernels.firstEqualIndex).
  */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.firstEqualIndex(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernels.firstEqualIndex($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): FirstEqualIndex =
    copy(left = l, right = r)
}

/** Per-doc 256-bucket DSIR histogram of word n-grams (md5 first-byte
  * bucketing — see HashKernels.dsirBucketCounts for the oracle
  * equivalence).
  */
case class DsirBucketCounts(child: Expression, n: Int) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.dsirBucketCounts(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.dsirBucketCounts($c, $n)")

  override protected def withNewChildInternal(c: Expression): DsirBucketCounts =
    copy(child = c)
}

/** md5 digests of a doc's fixed-width word segments (16-byte binary
  * per segment) — segment equality without shipping segment text
  * (see HashKernels.segmentMd5s).
  */
case class SegmentMd5s(child: Expression, segWords: Int) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.segmentMd5s(input.asInstanceOf[UTF8String], segWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.segmentMd5s($c, $segWords)")

  override protected def withNewChildInternal(c: Expression): SegmentMd5s =
    copy(child = c)
}

/** Segment count companion of [[SegmentMd5s]] (tokenize only, no md5). */
case class SegmentCount(child: Expression, segWords: Int) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.segmentCount(input.asInstanceOf[UTF8String], segWords))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.segmentCount($c, $segWords)")

  override protected def withNewChildInternal(c: Expression): SegmentCount =
    copy(child = c)
}

/** Reassemble a doc from kept 1-based segment positions — the local
  * (no-shuffle) inverse of [[SegmentMd5s]] (see
  * HashKernels.rebuildSegments).
  */
case class RebuildSegments(left: Expression, right: Expression, segWords: Int)
    extends BinaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(text: Any, pos: Any): Any =
    HashKernels.rebuildSegments(
      text.asInstanceOf[UTF8String], pos.asInstanceOf[ArrayData], segWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"$kernels.rebuildSegments($t, $p, $segWords)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): RebuildSegments =
    copy(left = l, right = r)
}

/** Dot product of a long-array column with a fixed long weight vector
  * (rides into the generated class as a reference object).
  */
case class DotWeightsLong(child: Expression, weights: Array[Long])
    extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.dotWeightsLong(input.asInstanceOf[ArrayData], weights))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotW", weights, "long[]")
    defineCodeGen(ctx, ev, c => s"$kernels.dotWeightsLong($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): DotWeightsLong =
    copy(child = c)
}

/** Dot product of a long-array column with a fixed double weight
  * vector, accumulated in ascending index order (deterministic).
  */
case class DotWeightsDouble(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(
      HashKernels.dotWeightsDouble(input.asInstanceOf[ArrayData], weights))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotWD", weights, "double[]")
    defineCodeGen(ctx, ev, c => s"$kernels.dotWeightsDouble($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): DotWeightsDouble =
    copy(child = c)
}

/** Intersection size of two sorted distinct long arrays (merge scan —
  * see HashKernels.sortedIntersectCount for why not array_intersect).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** Sign-LSH bucket id of a float vector against a fixed hyperplane
  * set: MSB-first fold of the dot-product sign bits. All nBits dot
  * products run in ONE primitive loop per row (the per-plane
  * zip_with/aggregate formulation evaluated nBits interpreted lambda
  * trees per row — the exact hazard the other kernels exist for).
  */
case class HyperplaneSigns(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.hyperplaneBucket(input.asInstanceOf[ArrayData], planes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    defineCodeGen(ctx, ev, c => s"$kernels.hyperplaneBucket($c, $planesRef)")
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneSigns =
    copy(child = c)
}

/** Id of the nearest (max-cosine) centroid for a float vector. The
  * bounded centroid matrix rides along as a reference object — IVF
  * assignment becomes a pure projection: zero shuffles, one scan,
  * instead of crossJoin + groupBy(argmax) moving every vector through
  * an exchange.
  */
case class NearestCentroid(child: Expression, ids: Array[Long],
                           cents: Array[Array[Float]])
    extends UnaryExpression {
  import HashExpressions.kernels
  require(ids.nonEmpty && ids.length == cents.length,
    "NearestCentroid needs a non-empty centroid set")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      HashKernels.nearestCentroid(input.asInstanceOf[ArrayData], ids, cents))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ivfIds", ids, "long[]")
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "float[][]")
    defineCodeGen(ctx, ev, c => s"$kernels.nearestCentroid($c, $idsRef, $centsRef)")
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

/** [n_tokens, n_punct, n_stop] of a document in one byte scan — the
  * quality-score hot path. Three regexp_extract_all trees (each
  * compiling to a per-row java.util.regex scan PLUS a materialized
  * match array) collapse into a single allocation-free kernel call;
  * regex-equivalence is documented on [[HashKernels.textQualityStats]].
  */
case class TextQualityStats(child: Expression) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.textQualityStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.textQualityStats($c)")

  override protected def withNewChildInternal(c: Expression): TextQualityStats =
    copy(child = c)
}

/** [ws_tokens, bpe_tokens] in one byte scan — replaces two
  * regexp_extract_all trees; the BPE-ish alternation replay is
  * documented on [[HashKernels.tokenCounts]].
  */
case class TokenCounts(child: Expression) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.tokenCounts($c)")

  override protected def withNewChildInternal(c: Expression): TokenCounts =
    copy(child = c)
}

/** 64-bit hashes of the sliding word n-grams (duplicates kept).
  * See HashKernels.slidingNgramHash64s.
  */
case class SlidingNgramHash64s(child: Expression, n: Int) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HashKernels.slidingNgramHash64s(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernels.slidingNgramHash64s($c, $n)")

  override protected def withNewChildInternal(c: Expression): SlidingNgramHash64s =
    copy(child = c)
}

/** Per-doc add-1 bigram-LM stats [n_bigrams, ce_e9] (null when the
  * doc has <2 words). The model maps ride in as BROADCAST handles —
  * the task closure ships only the handle; executors resolve the
  * cached value once — and enter generated code as reference objects,
  * so scoring is one kernel call per row inside whole-stage codegen:
  * the zero-join, zero-shuffle CCNet probe (see llm/NgramLm.score).
  */
case class BigramLmStats(child: Expression,
    c12: org.apache.spark.broadcast.Broadcast[LongLongMap],
    c1: org.apache.spark.broadcast.Broadcast[LongLongMap],
    vocab: Double) extends UnaryExpression {
  import HashExpressions.kernels

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    HashKernels.bigramLmStats(input.asInstanceOf[UTF8String], c12.value, c1.value, vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b12 = ctx.addReferenceObj("lmC12", c12, "org.apache.spark.broadcast.Broadcast")
    val b1 = ctx.addReferenceObj("lmC1", c1, "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kernels.bigramLmStats($c,
        (graft.plans.LongLongMap) $b12.value(),
        (graft.plans.LongLongMap) $b1.value(), ${vocab}D);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(c: Expression): BigramLmStats =
    copy(child = c)
}
