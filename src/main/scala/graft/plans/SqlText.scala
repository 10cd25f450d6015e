package graft.plans

import scala.util.matching.Regex

/** The front door's one lexical rule: where a string literal, a quoted
  * name or a comment ends. Every text pass (DuckDialect's lexer, the
  * statement passes in GraftSql, SqlPasses, the statement surface)
  * asks this module instead of scanning quotes itself, so a paren, a
  * comma or a keyword inside one of these spans is never read as code.
  *
  * The spans, as the reference's lexer reads them:
  *   - `'…'`, `"…"` and `` `…` `` end at the first quote of their kind
  *     that is not doubled (`''`, `""`, ``` `` ``` are escapes);
  *   - `E'…'` (or `e'…'`, not inside a word) also takes backslash
  *     escapes: `\'` does not end it;
  *   - `$tag$…$tag$` ends at the next same delimiter; the tag is
  *     letters, digits and `_`, empty or starting with a non-digit
  *     (`$1` is a parameter), and a `$` inside a word opens nothing;
  *   - `--` runs to the end of the line, `/* … */` nests.
  * An unterminated span runs to the end of the text.
  */
object SqlText {

  /** Identifier material, as the lexer reads a word. */
  def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '$'

  /** End (exclusive) of the literal, quoted name or comment that starts
    * at `i`, or `i` when code starts there.
    */
  def spanEnd(s: String, i: Int): Int = {
    val n = s.length
    if (i >= n) return i
    def at(k: Int): Char = if (k < n) s.charAt(k) else '\u0000'
    // end of a quoted span whose body starts at `from`; `esc`: `\x` escapes
    def closeAt(q: Char, from: Int, esc: Boolean): Int = {
      var j = from
      while (j < n) {
        if ((esc && s.charAt(j) == '\\') || (s.charAt(j) == q && at(j + 1) == q)) j += 2
        else if (s.charAt(j) == q) return j + 1
        else j += 1
      }
      n
    }
    s.charAt(i) match {
      case q @ ('\'' | '"' | '`') => closeAt(q, i + 1, esc = false)
      case 'E' | 'e' if at(i + 1) == '\'' && (i == 0 || !isWordChar(s.charAt(i - 1))) =>
        closeAt('\'', i + 2, esc = true)
      case '-' if at(i + 1) == '-' =>
        val e = s.indexOf('\n', i)
        if (e < 0) n else e
      case '/' if at(i + 1) == '*' =>
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (s.charAt(j) == '/' && at(j + 1) == '*') { depth += 1; j += 2 }
          else if (s.charAt(j) == '*' && at(j + 1) == '/') { depth -= 1; j += 2 }
          else j += 1
        }
        j.min(n)
      case '$' if i == 0 || !isWordChar(s.charAt(i - 1)) =>
        var j = i + 1
        while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        if (at(j) != '$' || (j > i + 1 && s.charAt(i + 1).isDigit)) i
        else {
          val close = s.indexOf(s.substring(i, j + 1), j + 1)
          if (close < 0) n else close + (j + 1 - i)
        }
      case _ => i
    }
  }

  /** Start of the span that holds `pos`, or -1 when `pos` is code. */
  def spanStart(s: String, pos: Int): Int = {
    var i = 0
    while (i <= pos && i < s.length) {
      val e = spanEnd(s, i)
      if (e == i) i += 1
      else if (pos < e) return i
      else i = e
    }
    -1
  }

  /** True when `pos` is code: outside every literal, quoted name and comment. */
  def inCode(s: String, pos: Int): Boolean = spanStart(s, pos) < 0

  /** The first match of `re` that starts in code. */
  def findInCode(s: String, re: Regex): Option[Regex.Match] =
    re.findAllMatchIn(s).find(m => inCode(s, m.start))

  /** Walks the code of `s` from `from` and returns the first index where
    * `stop(i, depth)` holds, or -1. `depth` counts the `(`, `[` and `{`
    * opened since `from` and not yet closed, before `s(i)` is read.
    */
  def findCode(s: String, from: Int = 0)(stop: (Int, Int) => Boolean): Int = {
    var i = from
    var depth = 0
    while (i < s.length) {
      val e = spanEnd(s, i)
      if (e > i) i = e
      else {
        if (stop(i, depth)) return i
        s.charAt(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case _ =>
        }
        i += 1
      }
    }
    -1
  }

  /** Index of the `)` that closes the `(` at `open`, or -1. */
  def matchParen(s: String, open: Int): Int =
    findCode(s, open)((i, d) => d == 1 && s.charAt(i) == ')')

  /** Index of the innermost `(` still open at `pos`, or -1: for a `)`
    * at `pos`, the `(` that it closes.
    */
  def openParen(s: String, pos: Int): Int = {
    val opens = scala.collection.mutable.Stack.empty[Int]
    findCode(s) { (i, _) =>
      if (i < pos) s.charAt(i) match {
        case '(' => opens.push(i)
        case ')' => if (opens.nonEmpty) opens.pop()
        case _ =>
      }
      i >= pos
    }
    opens.headOption.getOrElse(-1)
  }

  /** True when the words of `kw` (case-insensitive, any whitespace
    * between them) start at `i` as whole words.
    */
  def wordAt(s: String, i: Int, kw: String): Boolean = {
    if (i > 0 && isWordChar(s.charAt(i - 1))) return false
    var j = i
    var k = 0
    while (k < kw.length) {
      if (kw.charAt(k) == ' ') {
        val ws = j
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j == ws) return false
      } else if (j < s.length && s.charAt(j).toUpper == kw.charAt(k).toUpper) j += 1
      else return false
      k += 1
    }
    j == s.length || !isWordChar(s.charAt(j))
  }

  /** Index of the first top-level (outside spans and brackets)
    * occurrence of keyword `kw` at or after `from`, or -1.
    */
  def topIndexOf(s: String, kw: String, from: Int = 0): Int =
    findCode(s, from)((i, d) => d == 0 && wordAt(s, i, kw))

  /** Split on a top-level `sep`; pieces are trimmed, empty ones dropped. */
  def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var last = 0
    findCode(s) { (i, d) =>
      if (d == 0 && s.charAt(i) == sep) { out += s.substring(last, i); last = i + 1 }
      false
    }
    out += s.substring(last)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `re.replaceAllIn(s, f)` over the matches that start in code; a
    * match that starts inside a span is kept. `f` returns plain text.
    */
  def replaceInCode(s: String, re: Regex)(f: Regex.Match => String): String =
    if (re.findFirstIn(s).isEmpty) s
    else {
      val code = new java.util.BitSet(s.length)
      findCode(s) { (i, _) => code.set(i); false }
      re.replaceAllIn(s, m =>
        Regex.quoteReplacement(if (code.get(m.start)) f(m) else m.matched))
    }

  /** Rebuilds `s` word by word: each code word (a letter or `_`, then
    * word characters) goes to `f(start, end)`, which returns
    * `Some((text, resume))` to put `text` in place of `s(start until
    * resume)`, or None to keep the word. Everything else copies through.
    */
  def mapWords(s: String)(f: (Int, Int) => Option[(String, Int)]): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val e = spanEnd(s, i)
      val c = s.charAt(i)
      if (e > i) { sb.append(s.substring(i, e)); i = e }
      else if ((c.isLetter || c == '_') && (i == 0 || !isWordChar(s.charAt(i - 1)))) {
        var j = i + 1
        while (j < s.length && isWordChar(s.charAt(j))) j += 1
        f(i, j) match {
          case Some((text, resume)) => sb.append(text); i = resume
          case None => sb.append(s.substring(i, j)); i = j
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `s` without its comments: a line comment is dropped, a block
    * comment becomes one space; literals and quoted names stay.
    */
  def stripComments(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val e = spanEnd(s, i)
      if (e == i) { sb.append(s.charAt(i)); i += 1 }
      else {
        if (s.startsWith("/*", i)) sb.append(' ')
        else if (!s.startsWith("--", i)) sb.append(s.substring(i, e))
        i = e
      }
    }
    sb.toString
  }

  /** The content of `span` when it is exactly one `'…'`, `"…"` or
    * `` `…` `` span (blanks around it allowed), doubled quotes undone;
    * else None.
    */
  def unquote(span: String): Option[String] = {
    val t = span.trim
    val q = t.headOption.getOrElse(' ')
    val qq = s"$q$q"
    if ("'\"`".indexOf(q) >= 0 && t.length >= 2 && t.last == q &&
        // interior quotes come in pairs: exactly one span
        t.substring(1, t.length - 1).replace(qq, "").indexOf(q) < 0)
      Some(t.substring(1, t.length - 1).replace(qq, q.toString))
    else None
  }

  private val EscapeLit = """(?s)[Ee]'((?:[^'\\]++|\\.|'')*+)'""".r
  private val Escape = """(?s)\\(?:x([0-9a-fA-F]{1,2})|([0-7]{1,3})|(.))|''""".r

  /** The value of `lit` when it is exactly one `'…'` or `E'…'` string
    * literal. The `E` form decodes `\b \f \n \r \t`, `\x` + 1–2 hex
    * digits and `\` + 1–3 octal digits; `\c` is `c` for any other `c`.
    */
  def decode(lit: String): Option[String] = lit.trim match {
    case EscapeLit(body) => Some(Escape.replaceAllIn(body, m => Regex.quoteReplacement(
      if (m.group(1) != null) Integer.parseInt(m.group(1), 16).toChar.toString
      else if (m.group(2) != null) Integer.parseInt(m.group(2), 8).toChar.toString
      else Option(m.group(3)).fold("'")(c => "\b\f\n\r\t".lift("bfnrt".indexOf(c)).fold(c)(_.toString)))))
    case t if t.startsWith("'") => unquote(t)
    case _ => None
  }

  /** The `'…'` literal spelling of `v`. */
  def encode(v: String): String = "'" + v.replace("'", "''") + "'"
}
