package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Primitive-loop kernels behind the custom expressions.
  *
  * Each kernel is a single JIT-friendly pass shared by BOTH the
  * interpreted path (`nullSafeEval`) and the codegen path: the
  * expressions' `doGenCode` emits one static call into the generated
  * class (Scala objects get static forwarders), so every expression
  * participates in whole-stage codegen with zero boxing and no
  * Janino-fragile inline loop bodies. This is the same pattern Spark's
  * own string/date expressions use (generated code calling into
  * `UTF8StringUtils` etc.).
  */
object HashKernels {
  /** 2^31-1; universal hashing modulus (keeps a*h+b under 2^62). */
  val MersenneP: Long = 2147483647L

  private val B = 1315423911L // odd polynomial base

  /** Distinct 31-bit rolling hashes of the byte k-grams of a string —
    * shingle+hash+dedup fused into one allocation-light pass.
    * Polynomial rolling hash: h(i+1) derives from h(i) in O(1), so
    * total work is O(bytes), not O(bytes·k).
    */
  def charShingleHashes(input: UTF8String, k: Int): ArrayData = {
    val bytes = input.getBytes
    val n = bytes.length
    val m = if (n <= k) 1 else n - k + 1
    val hs = new Array[Long](m)
    if (n <= k) {
      var h = 0L
      var i = 0
      while (i < n) { h = h * B + (bytes(i) & 0xff); i += 1 }
      hs(0) = (h & Long.MaxValue) % MersenneP
    } else {
      // B^(k-1) with wraparound (consistent everywhere)
      var bk = 1L
      var e = 0
      while (e < k - 1) { bk *= B; e += 1 }
      var h = 0L
      var i = 0
      while (i < k) { h = h * B + (bytes(i) & 0xff); i += 1 }
      hs(0) = (h & Long.MaxValue) % MersenneP
      var p = 1
      while (p < m) {
        h = (h - (bytes(p - 1) & 0xff) * bk) * B + (bytes(p + k - 1) & 0xff)
        hs(p) = (h & Long.MaxValue) % MersenneP
        p += 1
      }
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < m) {
      if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  /** Distinct hashes of the word n-grams of a string — tokenize
    * (whitespace, ASCII-lowercased), hash each token, combine n
    * consecutive token hashes, dedupe. Comparing gram HASHES instead
    * of gram strings is collision-negligible at 64 bits.
    */
  def wordNgramHashes(input: UTF8String, n: Int): ArrayData = {
    val bytes = input.getBytes
    val toks = new java.util.ArrayList[java.lang.Long]()
    var h = 0L
    var in = false
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i)
      val ws = b0 == ' ' || b0 == '\t' || b0 == '\n' || b0 == '\r'
      if (ws) {
        if (in) { toks.add(h); in = false; h = 0L }
      } else {
        val lc = if (b0 >= 'A' && b0 <= 'Z') (b0 + 32).toByte else b0
        h = h * B + (lc & 0xff)
        in = true
      }
      i += 1
    }
    if (in) toks.add(h)
    val t = toks.size
    val m = math.max(1, t - n + 1)
    val out = new Array[Long](if (t == 0) 0 else m)
    var p = 0
    while (p < out.length) {
      var g = 0L
      val end = math.min(p + n, t)
      var q = p
      while (q < end) { g = g * 0x9e3779b97f4a7c15L + toks.get(q); q += 1 }
      out(p) = g
      p += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Runtime GLOB matcher — the reference's glob semantics (like.cpp):
    * `*`/`?` wildcards, `[class]`/`[!class]` with ranges and a literal
    * `]` in first position, backslash escapes. Malformed patterns
    * (unterminated class, trailing backslash) match NOTHING — pinned:
    * '3' GLOB '[3' = false, '\' GLOB '\' = false. Shares semantics
    * with the translate-time literal compiler (DuckDialect.globRegex);
    * this kernel is the non-literal-pattern path.
    */
  def globMatch(sU: UTF8String, pU: UTF8String): Boolean = {
    val s = sU.toString
    val p = pU.toString
    def m(si: Int, pj: Int): Boolean = {
      var i = si
      var j = pj
      while (j < p.length) {
        p.charAt(j) match {
          case '*' =>
            var k = j
            while (k < p.length && p.charAt(k) == '*') k += 1
            if (k == p.length) return true
            var t = i
            while (t <= s.length) { if (m(t, k)) return true; t += 1 }
            return false
          case '?' =>
            if (i >= s.length) return false
            i += 1; j += 1
          case '[' =>
            if (i >= s.length) return false
            var k = j + 1
            var neg = false
            if (k < p.length && p.charAt(k) == '!') { neg = true; k += 1 }
            var matched = false
            var first = true
            var closed = false
            val c = s.charAt(i)
            while (k < p.length && !closed) {
              val pc = p.charAt(k)
              if (pc == ']' && !first) closed = true
              else if (k + 2 < p.length && p.charAt(k + 1) == '-' &&
                  p.charAt(k + 2) != ']') {
                if (c >= pc && c <= p.charAt(k + 2)) matched = true
                first = false; k += 3
              } else {
                if (c == pc) matched = true
                first = false; k += 1
              }
            }
            if (!closed) return false
            if (matched == neg) return false
            i += 1; j = k + 1
          case '\\' =>
            if (j + 1 >= p.length) return false
            if (i >= s.length || s.charAt(i) != p.charAt(j + 1)) return false
            i += 1; j += 2
          case pc =>
            if (i >= s.length || s.charAt(i) != pc) return false
            i += 1; j += 1
        }
      }
      i == s.length
    }
    m(0, 0)
  }

  /** Cosine similarity of two float vectors, accumulated left-to-right
    * in double (engine-portable: same order ⇒ same bits as DuckDB's
    * list_sum-over-list_transform form). Zero-norm inputs yield 0.0
    * (not NaN — NaN poisons threshold filters and orderBy); a
    * dimension mismatch is a data bug and fails loudly instead of
    * being silently truncated.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray()
    val y = b.toFloatArray()
    if (x.length != y.length) {
      throw new IllegalArgumentException(
        s"cosine: embedding dimension mismatch (${x.length} vs ${y.length})")
    }
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val xd = x(i).toDouble; val yd = y(i).toDouble
      dot += xd * yd; nx += xd * xd; ny += yd * yd
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Winnowing fingerprint (MOSS-style, simplified) fused into one
    * pass: k-gram rolling hashes → min of each sliding window of w →
    * distinct sorted mins → one mixed 64-bit id.
    */
  def winnowFingerprint(input: UTF8String, k: Int, w: Int): Long = {
    val bytes = input.getBytes
    val n = bytes.length
    val m = if (n <= k) 1 else n - k + 1
    val hs = new Array[Long](m)
    if (n <= k) {
      var h = 0L; var i = 0
      while (i < n) { h = h * B + (bytes(i) & 0xff); i += 1 }
      hs(0) = h
    } else {
      var bk = 1L; var e = 0
      while (e < k - 1) { bk *= B; e += 1 }
      var h = 0L; var i = 0
      while (i < k) { h = h * B + (bytes(i) & 0xff); i += 1 }
      hs(0) = h
      var p = 1
      while (p < m) {
        h = (h - (bytes(p - 1) & 0xff) * bk) * B + (bytes(p + k - 1) & 0xff)
        hs(p) = h
        p += 1
      }
    }
    val wm = if (m <= w) 1 else m - w + 1
    val mins = new Array[Long](wm)
    var i = 0
    while (i < wm) {
      var mn = hs(i)
      var j = i + 1
      val end = math.min(i + w, m)
      while (j < end) { if (hs(j) < mn) mn = hs(j); j += 1 }
      mins(i) = mn
      i += 1
    }
    java.util.Arrays.sort(mins)
    var fp = 0xcbf29ce484222325L
    var r = 0
    while (r < wm) {
      if (r == 0 || mins(r) != mins(r - 1)) {
        fp ^= mins(r); fp *= 0x100000001b3L
      }
      r += 1
    }
    fp
  }

  /** sig[i] = min over shingle-hashes h of ((a(i)*h + b(i)) mod p),
    * p = 2^31-1 via Mersenne folding (≡ %, ~2× cheaper).
    */
  def minhash(input: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val hs = input.toLongArray()
    val n = as.length
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < hs.length) {
      val h = hs(j)
      var i = 0
      while (i < n) {
        var v = as(i) * h + bs(i)
        v = (v & MersenneP) + (v >>> 31)
        v = (v & MersenneP) + (v >>> 31)
        if (v >= MersenneP) v -= MersenneP
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    // every value is mod 2^31-1 → fits an int; the signature is the
    // single biggest payload in the LSH shuffles (numHashes × width per
    // doc × bands), so packing halves the dedup pipelines' wire bytes
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = mins(i).toInt; i += 1 }
    new GenericArrayData(out)
  }

  /** Signature agreement over the packed int signatures. */
  def agreeCountInt(a: ArrayData, b: ArrayData): Long = {
    val x = a.toIntArray()
    val y = b.toIntArray()
    val n = math.min(x.length, y.length)
    var c = 0L
    var i = 0
    while (i < n) { if (x(i) == y(i)) c += 1; i += 1 }
    c
  }

  def agreeCountInts(x: Array[Int], y: Array[Int]): Long = {
    val n = math.min(x.length, y.length)
    var c = 0L
    var i = 0
    while (i < n) { if (x(i) == y(i)) c += 1; i += 1 }
    c
  }

  /** SimHash fingerprint of a text as 4×16-bit blocks (the pigeonhole
    * blocking unit for hamming ≤ 3): tokens are the maximal runs of
    * bytes other than ASCII whitespace (0x20 and 0x09–0x0D, Java's
    * `\s`), each hashed from its UTF-8 bytes as Spark's `xxhash64` hashes
    * a string (XXH64, seed 42); majority vote per bit, MSB-first fold
    * within each block. One pass over the bytes, no token strings: equal
    * to `xxhash64` over `filter(split(text, '\\s+'), t -> length(t) > 0)`,
    * since no byte of a multi-byte UTF-8 sequence is ASCII.
    */
  def simhashText(input: UTF8String): ArrayData = {
    val base = input.getBaseObject
    val off = input.getBaseOffset
    val n = input.numBytes
    val ones = new Array[Int](64)
    var tokens = 0
    var i = 0
    while (i < n) {
      while (i < n && isAsciiSpace(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isAsciiSpace(Platform.getByte(base, off + i))) i += 1
        val h = XXH64.hashUnsafeBytes(base, off + start, i - start, 42L)
        var b = 0
        while (b < 64) {
          ones(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        tokens += 1
      }
    }
    val blocks = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var acc = 0L
      var k = 0
      while (k < 16) {
        acc = acc * 2 + (if (ones(b * 16 + k) * 2 > tokens) 1L else 0L)
        k += 1
      }
      blocks(b) = acc
      b += 1
    }
    new GenericArrayData(blocks)
  }

  private def isAsciiSpace(c: Byte): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Index of the FIRST position where two long arrays agree, -1 if
    * none — the emit-once band test for LSH pair generation: a
    * candidate pair sharing k band buckets appears in k bucket joins,
    * and keeping it only where firstEqualIndex(bands_a, bands_b) ==
    * current band makes the pair set unique by construction (no
    * pair-space dedup shuffle, no k-fold re-verification).
    */
  def firstEqualIndex(a: ArrayData, b: ArrayData): Long = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      if (x(i) == y(i)) return i
      i += 1
    }
    -1L
  }

  /** Primitive-array twins of firstEqualIndex/sortedIntersectCount
    * for the bucket-local pair generator
    * ([[LshBucketPairs]]), which unpacks each member's arrays once and
    * compares them O(m²/2) times — re-wrapping in ArrayData per pair
    * would allocate in the innermost loop.
    */
  def firstEqualLong(x: Array[Long], y: Array[Long]): Long = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      if (x(i) == y(i)) return i
      i += 1
    }
    -1L
  }

  def sortedIntersectLong(x: Array[Long], y: Array[Long]): Long = {
    var i = 0
    var j = 0
    var c = 0L
    while (i < x.length && j < y.length) {
      val xi = x(i)
      val yj = y(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  /** Intersection size of two SORTED distinct long arrays — a merge
    * scan, zero per-row allocation. Replaces array_intersect+size on
    * the near-dup verify path: Spark's generic ArrayIntersect builds a
    * hash set per invocation, and at millions of pairs × KB-sized gram
    * arrays that allocation (and the GC it feeds) dominates the stage.
    * Inputs must be sorted distinct — which wordNgramHashes and
    * charShingleHashes already guarantee.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    var i = 0
    var j = 0
    var c = 0L
    while (i < x.length && j < y.length) {
      val xi = x(i)
      val yj = y(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  /** Sign-LSH bucket id: MSB-first fold over hyperplanes of the dot
    * product's sign bit. One primitive loop per row — replaces nBits
    * interpreted zip_with/aggregate dot products.
    */
  def hyperplaneBucket(vec: ArrayData, planes: Array[Array[Double]]): Long = {
    val x = vec.toFloatArray()
    var acc = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      var d = 0.0
      var i = 0
      val n = math.min(x.length, pl.length)
      while (i < n) { d += x(i).toDouble * pl(i); i += 1 }
      acc = acc * 2 + (if (d >= 0) 1L else 0L)
      p += 1
    }
    acc
  }

  /** Id of the centroid with the highest cosine similarity to `vec`
    * (ties → smallest centroid id, deterministic). One projection per
    * row over the (bounded, broadcast) centroid matrix — the
    * shuffle-free IVF assignment step.
    */
  def nearestCentroid(vec: ArrayData, ids: Array[Long],
                      cents: Array[Array[Float]]): Long = {
    val x = vec.toFloatArray()
    var best = -1
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val y = cents(c)
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val xd = x(i).toDouble; val yd = y(i).toDouble
        dot += xd * yd; nx += xd * xd; ny += yd * yd
        i += 1
      }
      val cos = if (nx == 0.0 || ny == 0.0) 0.0
                else dot / (math.sqrt(nx) * math.sqrt(ny))
      if (cos > bestCos || (cos == bestCos && best >= 0 && ids(c) < ids(best))) {
        bestCos = cos; best = c
      }
      c += 1
    }
    ids(best)
  }

  /** English function-word list for the quality score's stopword count
    * — mirrors the oracle regex `\b(the|and|of|to|in|a|is)\b`.
    */
  private val QualityStopwords: Array[Array[Byte]] =
    Array("the", "and", "of", "to", "in", "a", "is").map(_.getBytes("US-ASCII"))

  /** Text-quality stats in ONE byte scan: [n_tokens, n_punct, n_stop].
    * Replaces three `regexp_extract_all` passes (each allocating a
    * match array per row) with an allocation-free loop — the regex
    * semantics are preserved exactly:
    *  - n_tokens = count of `\S+` runs. `\s` is ASCII in both Java and
    *    RE2 ([ \t\n\x0B\f\r]); any other byte (incl. all of UTF-8
    *    ≥0x80) extends a token.
    *  - n_punct = count of `[^\w\s]` CODE POINTS (not bytes): `\w` is
    *    ASCII `[0-9A-Za-z_]` in both engines, so every non-ASCII code
    *    point counts once (continuation bytes are skipped).
    *  - n_stop = count of `\b(the|and|of|to|in|a|is)\b` matches on the
    *    lowercased text = maximal ASCII word-char runs equal
    *    (case-insensitively) to a stopword. Word runs break at any
    *    non-word code point — exactly `\b` in ASCII mode.
    */
  def textQualityStats(input: UTF8String): ArrayData = {
    val bytes = input.getBytes
    val n = bytes.length
    var nTokens = 0L
    var nPunct = 0L
    var nStop = 0L
    var inToken = false
    var wordStart = -1
    var i = 0

    def flushWord(end: Int): Unit = {
      if (wordStart >= 0) {
        val len = end - wordStart
        val sw = QualityStopwords
        var s = 0
        while (s < sw.length) {
          val w = sw(s)
          if (w.length == len) {
            var j = 0
            var ok = true
            while (ok && j < len) {
              val b = bytes(wordStart + j)
              val lower = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
              if (lower != w(j)) ok = false
              j += 1
            }
            if (ok) { nStop += 1; s = sw.length }
            else s += 1
          } else s += 1
        }
        wordStart = -1
      }
    }

    while (i < n) {
      val b = bytes(i) & 0xff
      if (b >= 0x80) {
        if ((b & 0xc0) != 0x80) { // lead byte = one non-ASCII code point
          nPunct += 1
          if (!inToken) { inToken = true; nTokens += 1 }
          flushWord(i)
        } // continuation bytes: already counted at their lead byte
      } else {
        val isSpace = b == ' ' || (b >= 0x09 && b <= 0x0d)
        if (isSpace) {
          inToken = false
          flushWord(i)
        } else {
          if (!inToken) { inToken = true; nTokens += 1 }
          val isWord = (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') ||
            (b >= 'a' && b <= 'z') || b == '_'
          if (isWord) {
            if (wordStart < 0) wordStart = i
          } else {
            nPunct += 1
            flushWord(i)
          }
        }
      }
      i += 1
    }
    flushWord(n)
    new GenericArrayData(Array(nTokens, nPunct, nStop))
  }

  /** Token counts in ONE byte scan: [ws_tokens, bpe_tokens].
    *  - ws_tokens = `\S+` runs (same ASCII `\s` as [[textQualityStats]]).
    *  - bpe_tokens = non-overlapping matches of the BPE-ish
    *    alternation `[a-z]+|[A-Z][a-z]*|[0-9]|[^A-Za-z0-9\s]`,
    *    replayed as the equivalent left-to-right state machine: a
    *    lowercase run is one token; an uppercase letter plus its
    *    lowercase tail is one token; each digit is one token; every
    *    other non-space CODE POINT (ASCII punct, underscore, all
    *    non-ASCII) is one token.
    */
  def tokenCounts(input: UTF8String): ArrayData = {
    val bytes = input.getBytes
    val n = bytes.length
    var ws = 0L
    var bpe = 0L
    var inToken = false
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      val isSpace = b < 0x80 && (b == ' ' || (b >= 0x09 && b <= 0x0d))
      if (isSpace) { inToken = false; i += 1 }
      else {
        if (!inToken) { inToken = true; ws += 1 }
        if (b >= 0x80) {
          if ((b & 0xc0) != 0x80) bpe += 1 // one per non-ASCII code point
          i += 1
        } else if (b >= 'a' && b <= 'z') {
          bpe += 1
          i += 1
          while (i < n && bytes(i) >= 'a' && bytes(i) <= 'z') i += 1
        } else if (b >= 'A' && b <= 'Z') {
          bpe += 1
          i += 1
          while (i < n && bytes(i) >= 'a' && bytes(i) <= 'z') i += 1
        } else if (b >= '0' && b <= '9') {
          bpe += 1
          i += 1
        } else {
          bpe += 1 // ASCII punctuation and underscore
          i += 1
        }
      }
    }
    new GenericArrayData(Array(ws, bpe))
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-doc 256-bucket histogram of hashed word n-grams, DSIR-style:
    * tokenize the Unicode-lowercased text on ASCII whitespace, join n
    * consecutive words with single spaces, md5 the gram bytes, count
    * by the digest's FIRST byte (≡ `substr(md5(gram), 1, 2)` — the
    * first two hex chars ARE the first byte). One fused pass replaces
    * split + transform(array_join) + explode + md5 + substr over the
    * gram rows: the corpus-size gram table (rows ≈ total words) never
    * exists, only (doc, long[256]) rows do.
    *
    * Token byte positions are found once; each gram reuses the slices
    * (no per-gram string building beyond the digest input).
    */
  def dsirBucketCounts(input: UTF8String, n: Int): ArrayData = {
    val bytes = input.toLowerCase.getBytes
    // token boundaries (start, end) over ASCII whitespace — matches
    // string_split_regex('\s+') + drop-empties on both engines
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var in = false
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      val ws = b == ' ' || (b >= 0x09 && b <= 0x0d)
      if (ws) { if (in) { ends.add(i); in = false } }
      else if (!in) { starts.add(i); in = true }
      i += 1
    }
    if (in) ends.add(bytes.length)
    val t = starts.size
    val counts = new Array[Long](256)
    if (t >= n) {
      val md = md5Local.get()
      var p = 0
      while (p <= t - n) {
        md.reset()
        var w = 0
        while (w < n) {
          if (w > 0) md.update(' '.toByte)
          val s = starts.get(p + w).intValue()
          val e = ends.get(p + w).intValue()
          md.update(bytes, s, e - s)
          w += 1
        }
        counts(md.digest()(0) & 0xff) += 1
        p += 1
      }
    }
    new GenericArrayData(counts)
  }

  /** Token boundaries of the Unicode-lowercased text over ASCII
    * whitespace — shared tokenizer for the segment kernels. Returns
    * (lowercased bytes, starts, ends).
    */
  private def tokenize(input: UTF8String):
      (Array[Byte], java.util.ArrayList[Integer], java.util.ArrayList[Integer]) = {
    val bytes = input.toLowerCase.getBytes
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var in = false
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      val ws = b == ' ' || (b >= 0x09 && b <= 0x0d)
      if (ws) { if (in) { ends.add(i); in = false } }
      else if (!in) { starts.add(i); in = true }
      i += 1
    }
    if (in) ends.add(bytes.length)
    (bytes, starts, ends)
  }

  /** md5 of each fixed-width word segment of a doc (segment i = words
    * [(i-1)·w+1 .. i·w] of the lowercased text joined by single
    * spaces; a doc with no words has ONE empty segment — the
    * max(ceil(t/w), 1) convention of the d08 oracle). 16-byte digests
    * stand in for segment equality, so the segment TEXT never has to
    * leave the doc's row: dedup shuffles (id, pos, 16 B) instead of
    * the corpus text.
    */
  def segmentMd5s(input: UTF8String, segWords: Int): ArrayData = {
    val (bytes, starts, ends) = tokenize(input)
    val t = starts.size
    val nSegs = math.max((t + segWords - 1) / segWords, 1)
    val md = md5Local.get()
    val out = new Array[Any](nSegs)
    var s = 0
    while (s < nSegs) {
      md.reset()
      var w = s * segWords
      val end = math.min(w + segWords, t)
      while (w < end) {
        if (w > s * segWords) md.update(' '.toByte)
        val a = starts.get(w).intValue()
        val b = ends.get(w).intValue()
        md.update(bytes, a, b - a)
        w += 1
      }
      out(s) = md.digest()
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Number of fixed-width word segments (max(ceil(tokens/w), 1)) —
    * the tokenize-only companion of [[segmentMd5s]].
    */
  def segmentCount(input: UTF8String, segWords: Int): Long = {
    val (_, starts, _) = tokenize(input)
    math.max((starts.size + segWords - 1) / segWords, 1).toLong
  }

  /** Reassemble a doc from its KEPT segment positions (1-based,
    * ascending): the words of each kept segment joined by spaces,
    * segments joined by spaces — exactly string_agg(seg, ' ' ORDER BY
    * pos) over the oracle's segment spelling.
    */
  def rebuildSegments(input: UTF8String, keptPos: ArrayData, segWords: Int): UTF8String = {
    val (bytes, starts, ends) = tokenize(input)
    val t = starts.size
    val ps = keptPos.toLongArray()
    val sb = new java.io.ByteArrayOutputStream()
    var k = 0
    var first = true
    while (k < ps.length) {
      val s = (ps(k) - 1).toInt
      var w = s * segWords
      val end = math.min(w + segWords, t)
      if (!first) sb.write(' ')
      first = false
      var innerFirst = true
      while (w < end) {
        if (!innerFirst) sb.write(' ')
        innerFirst = false
        val a = starts.get(w).intValue()
        val b = ends.get(w).intValue()
        sb.write(bytes, a, b - a)
        w += 1
      }
      k += 1
    }
    UTF8String.fromBytes(sb.toByteArray)
  }

  /** Dot product of a long-array column with a fixed weight vector —
    * turns the DSIR per-doc mass aggregation into a pure projection
    * (weights = the broadcast 256-entry bucket table).
    */
  def dotWeightsLong(a: ArrayData, w: Array[Long]): Long = {
    val x = a.toLongArray()
    val n = math.min(x.length, w.length)
    var s = 0L
    var i = 0
    while (i < n) { s += x(i) * w(i); i += 1 }
    s
  }

  /** Dot product with double weights, accumulated in ascending bucket
    * order (deterministic summation — same result every run/partition).
    */
  def dotWeightsDouble(a: ArrayData, w: Array[Double]): Double = {
    val x = a.toLongArray()
    val n = math.min(x.length, w.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * w(i); i += 1 }
    s
  }

  private val Fnv64Offset = 0xcbf29ce484222325L
  private val Fnv64Prime = 0x100000001b3L

  /** FNV-1a64 of the words [p, p+n) joined by single spaces — the
    * fixed-width stand-in for gram-string identity at half the md5
    * key width (collision odds ~m²/2⁶⁵: ≪1e-5 even at 10⁷ distinct
    * grams). Shared by [[slidingNgramHash64s]] (model build) and
    * [[bigramLmStats]] (probe) so model keys and probe keys agree
    * bit-for-bit.
    */
  private def gramHash64(bytes: Array[Byte],
      starts: java.util.ArrayList[Integer], ends: java.util.ArrayList[Integer],
      p: Int, n: Int): Long = {
    var h = Fnv64Offset
    var w = 0
    while (w < n) {
      if (w > 0) { h ^= ' '.toLong; h *= Fnv64Prime }
      val a = starts.get(p + w).intValue()
      val b = ends.get(p + w).intValue()
      var i = a
      while (i < b) { h ^= (bytes(i) & 0xffL); h *= Fnv64Prime; i += 1 }
      w += 1
    }
    h
  }

  /** 64-bit hashes of the SLIDING word n-grams (stride 1, duplicates
    * kept, t−n+1 grams, none if t&lt;n; n=1 → per-word hashes).
    */
  def slidingNgramHash64s(input: UTF8String, n: Int): ArrayData = {
    val (bytes, starts, ends) = tokenize(input)
    val t = starts.size
    val m = math.max(t - n + 1, 0)
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      out(p) = gramHash64(bytes, starts, ends, p, n)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Per-doc add-1 bigram-LM stats against broadcast model maps:
    * returns [n_bigrams, ce_e9] or null when the doc has &lt;2 words
    * (the oracle's len(w)>=2 guard). ce_e9 = mean −ln P snapped to a
    * 1e-9 grid (libm-dependence discipline); the sum runs in gram
    * order, matching both the previous exploded-rows plan (explode
    * output stays row-contiguous through partial aggregation) and the
    * oracle's sequential per-group sum. One tokenize pass per doc —
    * the entire CCNet scoring probe with zero joins, zero shuffles.
    */
  def bigramLmStats(input: UTF8String, c12: LongLongMap, c1: LongLongMap,
      vocab: Double): ArrayData = {
    val (bytes, starts, ends) = tokenize(input)
    val t = starts.size
    if (t < 2) return null
    val m = t - 1
    // the maps hold PRECOMPUTED log terms as double bits (NgramLm:
    // c12 → the whole bigram term, c1 → the seen-w1 miss term; 0L =
    // absent, never a legal stored value) — the hot loop is probe +
    // add, no Math.log, and a bigram hit skips the c1 probe entirely.
    // The both-miss term keeps the oracle's exact expression shape.
    val lnV = -Math.log(1.0 / vocab)
    var sum = 0.0
    var p = 0
    while (p < m) {
      val tb = c12.getOrZero(gramHash64(bytes, starts, ends, p, 2))
      sum +=
        (if (tb != 0L) java.lang.Double.longBitsToDouble(tb)
        else {
          val cb = c1.getOrZero(gramHash64(bytes, starts, ends, p, 1))
          if (cb != 0L) java.lang.Double.longBitsToDouble(cb) else lnV
        })
      p += 1
    }
    val ce = Math.floor(sum / m * 1e9 + 0.5).toLong
    new GenericArrayData(Array(m.toLong, ce))
  }
}
