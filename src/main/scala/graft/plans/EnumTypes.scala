package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** ENUM types as a dictionary mapping — the reference's CREATE TYPE …
  * AS ENUM surface (/root/reference/src/parser/statement/ — CREATE
  * TYPE routes through create_type_info; scalar/enum/enum_functions
  * .cpp: enum_first/enum_last/enum_code/enum_range/
  * enum_range_boundary; semantics pinned against the oracle build:
  * enum_code is the 0-based definition position, range_boundary is an
  * inclusive slice with NULL meaning first/last, casts of non-member
  * strings ERROR while TRY_CAST yields NULL, and comparisons follow
  * DEFINITION order, not lexicographic).
  *
  * Spark has no enum type, so the engine stores enum VALUES as their
  * dictionary strings and folds the enum machinery at bind time —
  * exactly the dictionary-encoding mapping the F59 writeup promised:
  *
  *   - `CREATE TYPE t AS ENUM (…)` registers the value list in a
  *     session registry (same JVM-global scoping as macros/variables).
  *   - `enum_first/last/range` over anything cast to `t` fold to
  *     literals at bind time (they depend only on the TYPE).
  *   - `enum_code(x::t)` folds to a definition-order CASE over the
  *     dictionary (codegen'd; non-members raise the reference's
  *     conversion error).
  *   - `x::t` / `CAST(x AS t)` validate membership (raise on
  *     non-member, like the reference's cast); TRY_CAST gives NULL.
  *   - inside an ORDER BY clause, `x::t` sorts by enum_code — the
  *     reference's definition-order collation for enums. OUTSIDE
  *     ORDER BY the value stays the display string; a bare enum
  *     column compared with `<`/`>` therefore compares definition
  *     order only when spelled through the cast in ORDER BY or
  *     through enum_code explicitly (documented divergence: the
  *     string representation cannot carry both the display value and
  *     the code collation at once).
  *   - enum-typed COLUMNS in CREATE TABLE DDL become VARCHAR; the
  *     membership constraint is the Dml CHECK-audit layer's job.
  */
object EnumTypes {

  private val types = new ConcurrentHashMap[String, IndexedSeq[String]]()

  // schema-qualified (foo.bar) and quoted ("EN""UM") names accepted;
  // register() normalizes to the bare unquoted last segment — the
  // resolution side (DuckDialect.parseType) resolves mentions bare
  val CreateTypeRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+|TEMP\s+)?TYPE\s+((?:"[^"]*(?:""[^"]*)*"|[\w$])+(?:\.(?:"[^"]*(?:""[^"]*)*"|[\w$])+)*)\s+AS\s+ENUM\s*\((.+)\)\s*;?\s*$""".r
  val DropTypeRe =
    """(?is)^\s*DROP\s+TYPE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r

  /** CREATE TYPE name AS <base-type> — the reference's type ALIASES
    * (logical_type alias registry; test/sql/types/alias/). The raw
    * dialect type text is stored; DuckDialect.parseType resolves a
    * later mention through it. Schema qualifiers register bare. */
  val CreateAliasRe =
    """(?is)^\s*CREATE\s+TYPE\s+([\w.]+)\s+AS\s+(?!ENUM\b)(.+?)\s*;?\s*$""".r

  private val aliases = new ConcurrentHashMap[String, String]()

  def registerAlias(name: String, ty: String): Unit = {
    val bare = name.substring(name.lastIndexOf('.') + 1)
    aliases.put(bare.toLowerCase, ty.trim)
  }

  def aliasOf(name: String): Option[String] =
    Option(aliases.get(name.toLowerCase))

  /** Bare unquoted last segment of a possibly schema-qualified,
    * possibly double-quoted type name. */
  private def bareName(name: String): String = {
    // split on dots OUTSIDE quotes
    var last = name
    var i = 0
    var seg = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (c == '"') { i += 1; while (i < name.length && name.charAt(i) != '"') i += 1 }
      else if (c == '.') seg = i + 1
      i += 1
    }
    last = name.substring(seg)
    if (last.startsWith("\"") && last.endsWith("\"") && last.length >= 2)
      last.substring(1, last.length - 1).replace("\"\"", "\"")
    else last
  }

  def register(name: String, valuesClause: String): Unit = {
    // dynamic enum (`AS ENUM (SELECT … FROM t)`, test_5983): the value
    // set is data-dependent — the engine's enum encoding is a VARCHAR
    // dictionary anyway (F59), so register the name as a VARCHAR alias
    // (mentions in DDL resolve; definition-order code casts are not
    // available for query-defined enums, like the documented F59 gap)
    if (valuesClause.trim.toUpperCase.startsWith("SELECT")) {
      registerAlias(name, "VARCHAR")
      return
    }
    val vals = SqlText.splitTop(valuesClause, ',').map { v =>
      SqlText.decode(v).getOrElse(throw new IllegalArgumentException(
        s"CREATE TYPE … AS ENUM: expected string literal, got $v"))
    }
    require(vals.nonEmpty, "CREATE TYPE … AS ENUM: empty value list")
    types.put(bareName(name).toLowerCase, vals.toIndexedSeq)
  }

  def drop(name: String): Unit = {
    val bare = name.substring(name.lastIndexOf('.') + 1)
    types.remove(bare.toLowerCase)
    aliases.remove(bare.toLowerCase)
  }
  def clearAll(): Unit = types.clear()
  def get(name: String): Option[IndexedSeq[String]] =
    Option(types.get(name.toLowerCase))

  private def q(v: String): String = SqlText.encode(v)

  private def arrayLit(vals: Seq[String]): String =
    vals.map(q).mkString("array(", ", ", ")")

  private def raiseExpr(v: String, t: String): String =
    s"raise_error(concat('Conversion Error: Could not convert string ''', $v, ''' to $t'))"

  /** 0-based definition position; NULL-safe; raises on non-member. */
  private def codeCase(expr: String, t: String, vals: IndexedSeq[String]): String = {
    val whens = vals.zipWithIndex
      .map { case (v, i) => s"WHEN ($expr) = ${q(v)} THEN $i" }.mkString(" ")
    s"(CASE WHEN ($expr) IS NULL THEN CAST(NULL AS INT) $whens ELSE " +
      s"CAST(${raiseExpr(s"CAST(($expr) AS STRING)", t)} AS INT) END)"
  }

  /** Validated membership cast; raises on non-member (the cast path). */
  private def validCase(expr: String, t: String, vals: IndexedSeq[String]): String =
    s"(CASE WHEN ($expr) IS NULL THEN CAST(NULL AS STRING) " +
      s"WHEN ($expr) IN (${vals.map(q).mkString(", ")}) THEN CAST(($expr) AS STRING) " +
      s"ELSE CAST(${raiseExpr(s"CAST(($expr) AS STRING)", t)} AS STRING) END)"

  /** NULL on non-member (the TRY_CAST path). */
  private def tryCase(expr: String, vals: IndexedSeq[String]): String =
    s"(CASE WHEN ($expr) IN (${vals.map(q).mkString(", ")}) " +
      s"THEN CAST(($expr) AS STRING) ELSE CAST(NULL AS STRING) END)"

  private def typeNames: Seq[String] = {
    val it = types.keys()
    val b = Seq.newBuilder[String]
    while (it.hasMoreElements) b += it.nextElement()
    b.result()
  }

  /** Bind-time rewrite of every enum construct in `text`. No-op when
    * no registered type name appears (fast path).
    */
  def substitute(spark: SparkSession, text: String): String = {
    val names = typeNames
    if (names.isEmpty) return text
    val lower = text.toLowerCase
    if (!names.exists(n => lower.contains(n)) &&
        !lower.contains("enum_")) return text
    var out = text
    out = rewriteEnumFns(out)
    out = rewriteOrderBySegments(out)
    out = rewriteCasts(out, inOrderBy = false)
    out = rewriteDdlColumnTypes(out)
    out
  }

  /** The registered type a cast inside `arg` names, if any. */
  private def typeIn(arg: String): Option[(String, IndexedSeq[String])] = {
    val lower = arg.toLowerCase
    typeNames.collectFirst {
      case n if ("""::\s*""" + n + """\b""").r.findFirstIn(lower).isDefined ||
        ("""\bas\s+""" + n + """\b""").r.findFirstIn(lower).isDefined =>
        (n, types.get(n))
    }
  }

  /** Strip the outermost `::t` / CAST(e AS t) from `arg`. */
  private def innerOf(arg: String, t: String): String = {
    val a = arg.trim
    val castRe = ("""(?is)^CAST\s*\((.+)\s+AS\s+""" + t + """\s*\)$""").r
    val colonRe = ("""(?is)^(.+?)\s*::\s*""" + t + """\s*$""").r
    a match {
      case castRe(e) => e.trim
      case colonRe(e) => e.trim
      case _ => a
    }
  }

  private def rewriteEnumFns(text0: String): String = {
    var text = text0
    var changed = true
    while (changed) {
      changed = false
      val lower = text.toLowerCase
      val fnRe = """\b(enum_first|enum_last|enum_range_boundary|enum_range|enum_code)\s*\(""".r
      SqlText.findInCode(lower, fnRe) match {
        case Some(m) =>
          val open = text.indexOf('(', m.start + m.group(1).length)
          val close = SqlText.matchParen(text, open)
          require(close > open, s"unbalanced ${m.group(1)} call")
          val argStr = text.substring(open + 1, close)
          val fn = m.group(1)
          val replacement = fn match {
            case "enum_first" | "enum_last" | "enum_range" =>
              val (t, vals) = typeIn(argStr).getOrElse(
                throw new IllegalArgumentException(
                  s"$fn: no registered ENUM type in '$argStr'"))
              fn match {
                case "enum_first" => q(vals.head)
                case "enum_last" => q(vals.last)
                case _ => arrayLit(vals)
              }
            case "enum_range_boundary" =>
              val args = SqlText.splitTop(argStr, ',')
              require(args.length == 2, "enum_range_boundary takes 2 arguments")
              val (t, vals) = args.flatMap(a => typeIn(a)).headOption.getOrElse(
                throw new IllegalArgumentException(
                  s"enum_range_boundary: no registered ENUM type in '$argStr'"))
              def boundIdx(a: String, dflt: Int): Int =
                if (a.equalsIgnoreCase("NULL")) dflt
                else {
                  val inner = innerOf(a, t)
                  val v = SqlText.decode(inner).getOrElse(inner)
                  val i = vals.indexOf(v)
                  require(i >= 0,
                    s"enum_range_boundary: '$v' is not a member of $t " +
                      "(literal bounds only — the reference binds these at plan time too)")
                  i
                }
              val lo = boundIdx(args(0), 0)
              val hi = boundIdx(args(1), vals.length - 1)
              arrayLit(vals.slice(lo, hi + 1))
            case "enum_code" =>
              val (t, vals) = typeIn(argStr).getOrElse(
                throw new IllegalArgumentException(
                  s"enum_code: no registered ENUM type in '$argStr'"))
              codeCase(innerOf(argStr, t), t, vals)
          }
          text = text.substring(0, m.start) + replacement + text.substring(close + 1)
          changed = true
        case _ =>
      }
    }
    text
  }

  /** Inside ORDER BY clauses, `x::t` sorts by definition position. */
  private def rewriteOrderBySegments(text0: String): String = {
    val obRe = """(?i)\bORDER\s+BY\b""".r
    var text = text0
    var searchFrom = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      obRe.findFirstMatchIn(text.substring(searchFrom)) match {
        case None => return text
        case Some(m) =>
          val start = searchFrom + m.end
          if (!SqlText.inCode(text, searchFrom + m.start)) { searchFrom += m.end }
          else {
            // clause ends at depth<0, or LIMIT/OFFSET at depth 0
            val stop = SqlText.findCode(text, start)((i, d) => d == 0 &&
              (text.charAt(i) == ')' || SqlText.wordAt(text, i, "LIMIT") ||
                SqlText.wordAt(text, i, "OFFSET")))
            val end = if (stop < 0) text.length else stop
            val clause = text.substring(start, end)
            val rewritten = rewriteCasts(clause, inOrderBy = true)
            text = text.substring(0, start) + rewritten + text.substring(end)
            searchFrom = start + rewritten.length
          }
      }
    }
    text
  }

  /** `x::t`, CAST(x AS t), TRY_CAST(x AS t) → validated string (or
    * definition-position CASE inside ORDER BY).
    */
  private def rewriteCasts(text0: String, inOrderBy: Boolean): String = {
    var text = text0
    for (t <- typeNames) {
      val vals = types.get(t)
      if (vals != null) {
        // TRY_CAST / CAST forms first (the :: scanner would not see them)
        var changed = true
        while (changed) {
          changed = false
          val castRe = ("""(?i)\b(TRY_CAST|CAST)\s*\(""").r
          val lower = text
          var found = false
          val it = castRe.findAllMatchIn(lower).toSeq
          it.find { m =>
            if (!SqlText.inCode(text, m.start)) false
            else {
              val open = text.indexOf('(', m.start + m.group(1).length)
              val close = SqlText.matchParen(text, open)
              if (close < 0) false
              else {
                val body = text.substring(open + 1, close)
                val asRe = ("""(?is)^(.*\S)\s+AS\s+""" + t + """\s*$""").r
                body match {
                  case asRe(e) =>
                    val rep =
                      if (inOrderBy) codeCase(e, t, vals)
                      else if (m.group(1).equalsIgnoreCase("TRY_CAST")) tryCase(e, vals)
                      else validCase(e, t, vals)
                    text = text.substring(0, m.start) + rep + text.substring(close + 1)
                    found = true
                    true
                  case _ => false
                }
              }
            }
          }
          changed = found
        }
        // `operand::t`
        val colonRe = ("""(?i)::\s*""" + t + """\b""").r
        changed = true
        while (changed) {
          changed = false
          SqlText.findInCode(text, colonRe) match {
            case Some(m) =>
              val (opStart, operand) = operandBefore(text, m.start)
              val rep =
                if (inOrderBy) codeCase(operand, t, vals)
                else validCase(operand, t, vals)
              text = text.substring(0, opStart) + rep + text.substring(m.end)
              changed = true
            case _ =>
          }
        }
      }
    }
    text
  }

  /** The primary expression immediately left of a `::` cast:
    * paren group, string literal, or identifier chain.
    */
  private def operandBefore(text: String, castPos: Int): (Int, String) = {
    var i = castPos - 1
    while (i >= 0 && text.charAt(i).isWhitespace) i -= 1
    require(i >= 0, "cast with no operand")
    val span = SqlText.spanStart(text, i)
    text.charAt(i) match {
      case _ if span >= 0 => (span, text.substring(span, i + 1)) // literal
      case ')' =>
        val open = SqlText.openParen(text, i)
        require(open >= 0, "unbalanced parens before ::")
        (open, text.substring(open, i + 1))
      case _ =>
        var j = i
        while (j >= 0 && (text.charAt(j).isLetterOrDigit ||
          text.charAt(j) == '_' || text.charAt(j) == '.')) j -= 1
        (j + 1, text.substring(j + 1, i + 1))
    }
  }

  /** Enum-typed columns in CREATE TABLE DDL become VARCHAR. */
  private def rewriteDdlColumnTypes(text: String): String = {
    if (!"""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\b""".r
        .findFirstIn(text).isDefined) return text
    typeNames.foldLeft(text) { (acc, t) =>
      ("""(?i)(\b\w+\s+)""" + t + """(\s*[,)\s])""").r
        .replaceAllIn(acc, mm =>
          java.util.regex.Matcher.quoteReplacement(
            mm.group(1) + "VARCHAR" + mm.group(2)))
    }
  }
}
