package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for LLM-data pipelines, built entirely from
  * codegen'd higher-order functions — no UDFs, so everything stays in
  * whole-stage codegen and scales linearly per partition.
  */
object TextOps {

  /** Lowercased whitespace tokens (empty strings removed). */
  def wordTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles from a token array. */
  def wordShingles(tokens: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(tokens, i, lit(n))))

  /** Mersenne prime for 31-bit universal hashing: a*h+b stays under
    * 2^62, so the arithmetic is ANSI-safe (no long overflow).
    */
  private val MersenneP = 2147483647L // 2^31 - 1

  /** Deterministic multipliers/offsets in [1, p) for universal hashing. */
  private def hashParams(n: Int, seed: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(1L + math.abs(rnd.nextLong()) % (MersenneP - 1))
  }

  /** Fused shingle+hash+dedup of byte k-grams straight from the text
    * column — one allocation-free rolling-hash pass per row (see
    * [[graft.plans.CharShingleHashes]]); the fast path for minhash.
    */
  def charShingleHashes(text: Column, k: Int): Column =
    graft.plans.HashExpressions.columnOf(
      graft.plans.CharShingleHashes(graft.plans.HashExpressions.exprOf(text), k))

  /** MinHash signature from pre-hashed shingles: sig[i] =
    * min over h of ((a_i*h + b_i) mod p), p = 2^31-1. Runs as the
    * custom [[graft.plans.MinHashSignature]] expression — one tight
    * primitive loop per row (higher-order-function lambdas evaluate
    * interpreted/boxed and were ~50× slower here).
    */
  def minhashFromHashes(hashes: Column, numHashes: Int): Column = {
    val as = hashParams(numHashes, 0x5eed0001L).toArray
    val bs = hashParams(numHashes, 0x5eed0002L).toArray
    graft.plans.HashExpressions.columnOf(
      graft.plans.MinHashSignature(graft.plans.HashExpressions.exprOf(hashes), as, bs))
  }

  /** LSH band keys from a minhash signature: (bandIndex, bandHash)
    * structs. Docs sharing any band key are near-dup candidates.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bh")))

  /** Distinct word n-gram hashes straight from text — fused pass
    * (see [[graft.plans.WordNgramHashes]]); the fast path for exact
    * Jaccard verification over hashed grams.
    */
  def wordNgramHashes(text: Column, n: Int): Column =
    graft.plans.HashExpressions.columnOf(
      graft.plans.WordNgramHashes(graft.plans.HashExpressions.exprOf(text), n))

  /** SimHash fingerprint of a text as 4×16-bit blocks (pigeonhole
    * blocking for hamming ≤ 3: at least one block must match exactly).
    * Spark's `lower` case-maps the text; the custom
    * [[graft.plans.SimHashBlocks]] kernel then splits it on ASCII
    * whitespace, hashes each token with `xxhash64`'s hash and votes the
    * bits in one primitive loop — the same blocks as
    * `transform(wordTokens(text), t -> xxhash64(t))` voted, without the
    * token strings or the interpreted lambdas.
    */
  def simhashBlocks(text: Column): Column =
    graft.plans.HashExpressions.columnOf(
      graft.plans.SimHashBlocks(graft.plans.HashExpressions.exprOf(lower(text))))

  /** Winnowing-style document fingerprint: k-gram rolling hashes → min
    * of each sliding window of w → distinct sorted mins → one 64-bit
    * id. Robust to small edits (the classic MOSS scheme, simplified);
    * fused into [[graft.plans.WinnowFingerprint]] (the expression-tree
    * form was interpreted and ~100× slower).
    */
  def fingerprint(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.plans.HashExpressions.columnOf(
      graft.plans.WinnowFingerprint(graft.plans.HashExpressions.exprOf(text), k, w))

  /** Stopword profiles for the language-ID heuristic. */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "a", "is", "that", "for", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"))

  /** N-gram/stopword language-ID heuristic: score = fraction of tokens
    * hitting each language's stopword profile; argmax wins, 'und'
    * (undetermined) when nothing scores. Pure expressions — runs as a
    * projection, no shuffle, no UDF.
    */
  def langId(text: Column): Column = {
    val toks = wordTokens(text)
    val scored = stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
      struct((hits.cast("double") / greatest(size(toks), lit(1))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
