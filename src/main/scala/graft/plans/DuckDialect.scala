package graft.plans

import scala.collection.mutable.ArrayBuffer

/** DuckDB-dialect SQL front door: translates the reference engine's
  * SQL spellings that Spark's parser rejects (or parses with
  * DIFFERENT semantics) into equivalent Spark SQL, so a user of the
  * reference can run their query text verbatim through
  * `GraftSql.sql(...)`.
  *
  * What it translates (semantics pinned one by one against DuckDB —
  * see DuckDialectSpec):
  *   - operators: `x ^ y` / `x ** y` → power (Spark's `^` is XOR!),
  *     `x // y` → \`//\`(x, y) (truncating int division, plain
  *     division on non-integrals — reference src/function/scalar/
  *     operators/arithmetic), postfix `!` → factorial, prefix `@` →
  *     abs, infix `~` / `!~` → (NOT) regexp_full_match — FULL match,
  *     unlike Spark's partial RLIKE — `~~`/`!~~`/`~~*`/`!~~*` →
  *     LIKE / NOT LIKE / ILIKE / NOT ILIKE, `<->` → list_distance,
  *     `<=>` → list_cosine_distance (NOT Spark's null-safe equal),
  *     `&&` → list_has_any, `@>`/`<@` → list_has_all, `^@` →
  *     starts_with. `&`, `|`, `<<`, `>>`, `||`, prefix `~` have
  *     identical Spark spellings and pass through (parenthesized —
  *     DuckDB puts all generic operators on ONE left-associative
  *     precedence level below `+`/`-`, which the emitted parens
  *     preserve regardless of Spark's own table).
  *   - literals: `[a, b]` → array(a, b), `{'k': v}` → named_struct,
  *     `MAP {'k': v}` → map(k, v), `x[i]` → list_extract (DuckDB
  *     indexing is 1-based, Spark's `[]` is 0-based), `x[a:b]` →
  *     duck_slice (inclusive 1-based bounds, strings and lists),
  *     `x['k']` stays native subscript (map/struct access).
  *   - named arguments: struct_pack(k := v) → named_struct,
  *     struct_insert(s, k := v) → positional struct_insert,
  *     union_value(k := v) → the engine's tagged-struct union
  *     encoding; CAST(union_value(k := v) AS UNION(a T, b U)) emits
  *     the full member struct (tag + one typed slot per member).
  *   - types (`::T` and CAST...AS): HUGEINT → DECIMAL(38,0),
  *     UBIGINT → DECIMAL(20,0) and the rest of the unsigned ladder,
  *     BLOB → BINARY, TIME → STRING (Spark 4.1 parses but does not
  *     support TimeType), TIMESTAMPTZ → TIMESTAMP (session-zone
  *     instants), `T[]` → ARRAY&lt;T&gt;, STRUCT(a T) → STRUCT&lt;a: T&gt;,
  *     MAP(K, V) → MAP&lt;K, V&gt;, UNION(...) → the tagged struct.
  *   - statements: FROM-first syntax (`FROM t SELECT ...`, bare
  *     `FROM t`), `SELECT * EXCLUDE (...)` → `* EXCEPT (...)`,
  *     double-quoted identifiers → backticks (Spark reads "..." as a
  *     string literal by default).
  *
  * Out of scope (documented, not silently wrong): QUALIFY /
  * DISTINCT ON / SAMPLE clauses (covered behaviorally by q29/q46/
  * q34), JSON `->` arrows (clash with Spark lambda syntax; f10 maps
  * the accessors), `= ANY(...)` comparisons, ENUM types. Unknown
  * constructs pass through token-for-token, so plain ANSI SQL
  * survives translation byte-comparable modulo whitespace.
  *
  * This is a token-level translating parser (lexer + Pratt
  * expression parser + statement glue loop), not a grammar fork:
  * ~one screen of precedence table instead of a vendored parser, and
  * unknown SQL passes through untouched. Catalyst still does all the
  * real parsing/analysis on the emitted text. The lexer takes every
  * literal, quoted-name and comment end from SqlText, the one lexical
  * rule that the text passes around `translate` share.
  */
object DuckDialect {

  private[plans] val aliasDepth = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Schema/catalog names the reference creates implicitly
    * (catalog/default_schema + system/temp catalogs): a call
    * qualified by one of these is schema resolution, not the dot
    * function-chaining sugar.
    */
  private val KnownSchemas: Set[String] =
    Set("main", "system", "temp", "memory", "pg_catalog", "information_schema")

  // ---------------------------------------------------------------- lexer

  sealed trait Tok { def text: String }
  private case class TWord(text: String) extends Tok   // bare identifier / keyword
  private case class TQuoted(text: String) extends Tok // "ident" content, quotes stripped
  private case class TStr(text: String) extends Tok    // '...' raw, quotes kept
  private case class TNum(text: String) extends Tok
  private case class TOp(text: String) extends Tok

  /** Longest-match first. */
  private val multiOps = Seq(
    "!~~*", "!~~", "~~*", "~~", "!~*", "!~", "~*",
    "::", ":=", "**", "//", "<->", "<=>", "<@", "@>", "&&", "^@",
    "<<", ">>", "<=", ">=", "<>", "!=", "||", "->>", "->", "==", "=>")
  private val singleOps = "+-*/%^&|~@!()[]{},.;<>=:".toSet

  private def lex(sql: String): IndexedSeq[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = sql.length
    def peek(k: Int) = if (i + k < n) sql.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = sql.charAt(i)
      val end = SqlText.spanEnd(sql, i)
      if (c.isWhitespace) i += 1
      else if (end > i) { // literal, quoted name or comment: SqlText's rule
        val span = sql.substring(i, end)
        c match {
          case '-' | '/' => // comment
          case '"' | '`' => out += TQuoted(SqlText.unquote(span).getOrElse(span.drop(1)))
          case '$' => // $tag$…$tag$ reads as the literal of its body
            val tag = span.substring(0, span.indexOf('$', 1) + 1)
            out += TStr(SqlText.encode(span.stripPrefix(tag).stripSuffix(tag)))
          case 'E' | 'e' => out += TStr(SqlText.decode(span).map(SqlText.encode).getOrElse(span.tail))
          case _ => out += TStr(span)
        }
        i = end
      } else if (c.isDigit || (c == '.' && peek(1).isDigit)) {
        val start = i
        if (c == '0' && (peek(1) == 'x' || peek(1) == 'X')) {
          i += 2; while (i < n && isHex(sql.charAt(i))) i += 1
        } else {
          // digit-group underscores (1_000_000) lex into the number
          // and strip below — Spark's parser does not accept them
          while (i < n && (sql.charAt(i).isDigit || sql.charAt(i) == '.' ||
            (sql.charAt(i) == '_' && i + 1 < n && sql.charAt(i + 1).isDigit))) i += 1
          if (i < n && (sql.charAt(i) == 'e' || sql.charAt(i) == 'E')) {
            val save = i; i += 1
            if (i < n && (sql.charAt(i) == '+' || sql.charAt(i) == '-')) i += 1
            if (i < n && sql.charAt(i).isDigit) {
              while (i < n && (sql.charAt(i).isDigit ||
                (sql.charAt(i) == '_' && i + 1 < n && sql.charAt(i + 1).isDigit))) i += 1
            }
            else i = save
          }
        }
        out += TNum(sql.substring(start, i).replace("_", ""))
      } else if (c.isLetter || c == '_' || c >= '\u0080') {
        // the reference lexes ANY non-ASCII codepoint as identifier
        // material (unquoted unicode/emoji table names are legal);
        // Spark needs those backtick-quoted, so they lex as TQuoted
        val start = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_' ||
            sql.charAt(i) == '$' || sql.charAt(i) >= '\u0080')) i += 1
        val w = sql.substring(start, i)
        if (w.forall(_ < '\u0080')) out += TWord(w) else out += TQuoted(w)
      } else {
        multiOps.find(op => sql.startsWith(op, i)) match {
          case Some(op) => out += TOp(op); i += op.length
          case None =>
            if (singleOps(c)) { out += TOp(c.toString); i += 1 }
            else i += 1 // unknown char: drop (defensive)
        }
      }
    }
    out.toIndexedSeq
  }

  private def isHex(c: Char) = c.isDigit || ('a' <= c && c <= 'f') || ('A' <= c && c <= 'F')

  // ---------------------------------------------------------------- parser

  private val GLUE = Set(
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
    "SEMI", "ANTI", "LATERAL", "ON", "USING", "AS", "UNION", "ALL",
    "EXCEPT", "INTERSECT", "DISTINCT", "WITH", "RECURSIVE", "VALUES",
    "ASC", "DESC", "NULLS", "FIRST", "LAST", "THEN", "WHEN", "ELSE",
    "END", "WINDOW", "PARTITION", "ROWS", "RANGE", "GROUPS", "PRECEDING",
    "FOLLOWING", "UNBOUNDED", "CURRENT", "ROW", "FILTER", "OVER",
    "WITHIN", "PIVOT", "UNPIVOT", "BETWEEN", "TO", "BOTH", "NATURAL",
    "INSERT", "INTO", "DROP", "IF", "EXISTS")

  /** Keywords that terminate an expression when seen in infix position. */
  private def isGlue(t: Tok): Boolean = t match {
    case TWord(w) => GLUE(w.toUpperCase)
    case _ => false
  }

  private val PASS_INFIX: Map[String, Int] = Map(
    // generic-operator level (one level, left-assoc, like the reference)
    "&" -> 50, "|" -> 50, "<<" -> 50, ">>" -> 50, "||" -> 50,
    // comparisons
    "=" -> 40, "<" -> 40, ">" -> 40, "<=" -> 40, ">=" -> 40,
    "<>" -> 40, "!=" -> 40,
    // additive / multiplicative
    "+" -> 60, "-" -> 60, "*" -> 70)

  private val REWRITE_INFIX: Map[String, Int] = Map(
    // the reference returns NULL on a zero divisor for / and %
    // (BinaryZeroIsNullWrapper; pinned: 1/0, 1.0/0.0, 7%0 are all
    // NULL in DuckDB) — Spark's ANSI operators would throw, so both
    // rewrite to the try_ forms, which match exactly
    "/" -> 70, "%" -> 70,
    "**" -> 80, "^" -> 80, "//" -> 70,
    "~" -> 50, "!~" -> 50, "~~" -> 50, "!~~" -> 50, "~~*" -> 50, "!~~*" -> 50,
    "~*" -> 50, "!~*" -> 50,
    "<->" -> 50, "<=>" -> 50, "&&" -> 50, "@>" -> 50, "<@" -> 50, "^@" -> 50,
    // postgres-style `==` equality spelling (accepted by the reference)
    "==" -> 40)

  private val LAMBDA_PREC = 5 // `x -> body`: body absorbs everything

  private final class P(toks: IndexedSeq[Tok], nativeTime: Boolean) {
    var i = 0
    /** Last depth-0 glue keyword emitted (uppercase) — lets call()
      * distinguish table-function position (FROM/JOIN/LATERAL) from
      * expression position for unnest/generate_series.
      */
    var lastGlue: String = ""
    def more: Boolean = i < toks.length
    def peek: Tok = toks(i)
    def peekAt(k: Int): Option[Tok] = if (i + k < toks.length) Some(toks(i + k)) else None
    def next(): Tok = { val t = toks(i); i += 1; t }
    def peekWord(w: String): Boolean =
      more && (peek match { case TWord(x) => x.equalsIgnoreCase(w); case _ => false })
    def peekOp(o: String): Boolean =
      more && (peek match { case TOp(x) => x == o; case _ => false })
    def expectOp(o: String): Unit = {
      require(peekOp(o), s"duck-dialect: expected '$o' at token $i, found ${if (more) peek.text else "<eof>"}")
      next()
    }

    def skipSemis(): Unit = while (more && peekOp(";")) next()

    /** Dotted object name at the cursor: `a`, `a.b`, `a.b.c` …
      * Three-part reference names (catalog.schema.table) drop the
      * catalog — Spark's session catalog resolves two parts at most.
      */
    def dottedName(): String = {
      val parts = ArrayBuffer.empty[String]
      parts += (next() match {
        case TQuoted(s) => quoteIdent(s)
        case t => t.text
      })
      while (peekOp(".") && (peekAt(1) match {
        case Some(TWord(_)) | Some(TQuoted(_)) => true
        case _ => false
      })) {
        next() // '.'
        parts += (next() match {
          case TQuoted(s) => quoteIdent(s)
          case t => t.text
        })
      }
      parts.takeRight(2).mkString(".")
    }

    // -------------------------------------------------- statements

    /** Translate until `)` at depth 0 (or end of input). */
    /** SQL-standard FROM-clause pivot relation suffix — Spark parses
      * `t PIVOT (agg FOR col IN (…))` and `t UNPIVOT [INCLUDE|EXCLUDE
      * NULLS] ((v…) FOR name IN (…))` natively; the group passes
      * through token-verbatim (FOR/IN are clause keywords here, not
      * expression operators) with only the ident-quoting convention
      * mapped. The cursor sits ON the PIVOT/UNPIVOT word.
      */
    private def pivotGroup(): String = {
      val sb = new StringBuilder(next().text.toUpperCase)
      if (!peekOp("(")) { // INCLUDE/EXCLUDE NULLS
        sb.append(' ').append(next().text.toUpperCase)
        sb.append(' ').append(next().text.toUpperCase)
      }
      expectOp("(")
      sb.append(" (")
      var depth = 1
      while (more && depth > 0) next() match {
        case TOp("(") => depth += 1; sb.append(" (")
        case TOp(")") => depth -= 1; if (depth > 0) sb.append(" )")
        case TQuoted(s) => sb.append(' ').append(quoteIdent(s))
        case TOp(o) => sb.append(o)
        case t => sb.append(' ').append(t.text)
      }
      sb.append(" )")
      // a trailing relation alias (`… PIVOT (…) AS p`) — the
      // reference accepts it, Spark's pivot grammar does not; the
      // alias is dropped (unqualified column refs still resolve)
      if (peekWord("AS")) { next(); if (more) next() }
      sb.toString
    }

    /** Is the cursor on a FROM-clause-form PIVOT/UNPIVOT keyword? */
    private def atPivotGroup: Boolean = peek match {
      case TWord(w) if w.equalsIgnoreCase("PIVOT") || w.equalsIgnoreCase("UNPIVOT") =>
        peekAt(1).exists {
          case TOp("(") => true
          case TWord(x) => (x.equalsIgnoreCase("INCLUDE") ||
            x.equalsIgnoreCase("EXCLUDE")) && peekAt(2).exists {
            case TWord(y) => y.equalsIgnoreCase("NULLS"); case _ => false
          }
          case _ => false
        }
      case _ => false
    }

    def statement(): String = {
      if (peekWord("CREATE")) {
        createStatement() match {
          case Some(ddl) => return ddl
          case None =>
        }
      }
      distinctOnSplit() match {
        case Some(rewritten) => return rewritten
        case None =>
      }
      qualifySplit() match {
        case Some(rewritten) => return rewritten
        case None =>
      }
      val out = ArrayBuffer.empty[String]
      // tracks "currently inside this level's FROM list" for the
      // implicit-LATERAL comma rule — lastGlue is clobbered by nested
      // subquery parsing on the same P instance, so it cannot be the
      // signal (r14: `SELECT (SELECT ...), (SELECT 42)` regression)
      var fromListCtx = false
      // FROM-first: `FROM t ...` with no leading SELECT. If a SELECT
      // clause appears later at depth 0, move it in front; else
      // prepend SELECT *.
      if (peekWord("FROM")) out += fromFirst()
      // WITH clause: parsed structurally — the reference's CTE column
      // aliases (`WITH c(a, b) AS (…)`) have no Spark spelling, so
      // they re-emerge as a column-aliased subquery inside the CTE
      // body; a FROM-first statement body after the CTE list routes
      // through fromFirst like a bare one
      if (peekWord("WITH") && !peekAt(1).exists {
        case TWord(x) => x.equalsIgnoreCase("RECURSIVE"); case _ => false
      }) {
        val save = i
        try {
          out += withClause()
          if (peekWord("FROM")) {
            out += fromFirst()
            return out.mkString(" ")
          }
        } catch {
          case _: Exception => i = save // not a plain CTE list: glue path
        }
      }
      while (more && !peekOp(")")) {
        if (!more || peekOp(")")) return out.mkString(" ")
        val t = peek
        t match {
          case TWord(w) if w.equalsIgnoreCase("USING") && peekAt(1).exists {
            case TWord(x) => x.equalsIgnoreCase("SAMPLE"); case _ => false
          } => out += usingSample()
          case TWord(w) if w.equalsIgnoreCase("TABLESAMPLE") =>
            next(); out += tablesampleClause()
          case _ if atPivotGroup => out += pivotGroup()
          case TWord(w) if Set("FIRST", "LAST")(w.toUpperCase) && peekAt(1)
              .exists { case TOp("(") => true; case _ => false } =>
            // first(...)/last(...) calls (the words are glue only for
            // NULLS FIRST/LAST) — as exprs their inline ORDER BY /
            // IGNORE NULLS forms get the call() rewrites
            out += expr(0)
          case TWord(w) if w.equalsIgnoreCase("RANGE") && peekAt(1).exists {
            case TOp(op) => !Set("(", ")", ";").contains(op)
            // a following predicate word also means COLUMN position
            // (`ON range BETWEEN lo AND hi`, scd2 corpus): window
            // frames never reach the STATEMENT glue loop — OVER/WINDOW
            // parens parse via clauseParen → clause(), which keeps
            // RANGE as glue (r13)
            case TWord(x) => Set("AS", "BETWEEN", "IS", "IN", "NOT",
              "LIKE", "ILIKE")(x.toUpperCase)
            case _ => false
          } =>
            // `range` as a COLUMN name (the range(...) table
            // function's default output column, e.g. `range::varchar`
            // or `range % 3`): RANGE is glue only in window-frame /
            // table-function position
            out += expr(0)
          case TWord(w) if w.equalsIgnoreCase("AS") && peekAt(1).exists(_.isInstanceOf[TStr]) =>
            // string-literal alias (`AS 'hello world'`) — legal in the
            // reference, an identifier in Spark
            next(); val __astr = next().text
            out += "AS " + quoteIdent(SqlText.unquote(__astr).getOrElse(__astr)) + strColList()
          case TWord(w) if lastGlue == "FROM" && !GLUE(w.toUpperCase) &&
              out.nonEmpty && out.last.matches("[A-Za-z_][\\w.]*") &&
              !GLUE(out.last.toUpperCase) && strAliasListAhead =>
            // bare relation alias carrying a QUOTED column list
            // (`FROM integers t('k')`, table_alias_single_quotes
            // corpus): the previous part is the relation, so this is
            // NOT a function call — keep the alias, identifier-ize
            // the quoted columns
            next(); out += w + strColList()
          case TWord(w) if GLUE(w.toUpperCase) && !(w.equalsIgnoreCase("ROW") && peekAt(1).contains(TOp("("))) && !peekAt(1).contains(TOp(".")) =>
            next(); lastGlue = w.toUpperCase; out += w
            val __up = w.toUpperCase
            if (__up == "FROM") fromListCtx = true
            else if (Set("SELECT", "WHERE", "GROUP", "HAVING", "ORDER",
                "LIMIT", "OFFSET", "WINDOW", "QUALIFY", "UNION",
                "EXCEPT", "INTERSECT", "VALUES")(__up)) fromListCtx = false
          case TOp(",") =>
            // the reference tolerates trailing commas in clause lists
            // (VALUES …, / SELECT a, b, FROM): drop one before a
            // closer or end of input
            next()
            if (more && !peekOp(")") && !peekOp(";") && !peekWord("FROM")) {
              out += ","
              // comma subqueries in a FROM list are implicitly
              // LATERAL in the reference (lateral_qualify corpus —
              // `FROM t(x), (SELECT x …)`); Spark needs the keyword.
              // For uncorrelated subqueries LATERAL ≡ the plain comma
              // join, so the insertion is semantics-preserving.
              if (fromListCtx && peekOp("(") && peekAt(1).exists {
                  case TWord(w) =>
                    Set("SELECT", "FROM", "WITH")(w.toUpperCase)
                  case _ => false
                })
                out += "LATERAL"
            }
          case TOp(";") => next(); out += t.text
          // `(` falls through to expr(): its prefix handles both
          // subquery parens and parenthesized predicates — a special
          // case here would strip an OR-chain's first branch
          case _ => out += expr(0)
        }
      }
      out.mkString(" ")
    }

    /** The statement glue loop without statement-level heuristics —
      * for translating clause fragments (QUALIFY segments) in place.
      */
    def clause(): String = {
      val out = ArrayBuffer.empty[String]
      var fromListCtx = false
      while (more && !peekOp(")")) {
        val t = peek
        t match {
          case TWord(w) if w.equalsIgnoreCase("USING") && peekAt(1).exists {
            case TWord(x) => x.equalsIgnoreCase("SAMPLE"); case _ => false
          } => out += usingSample()
          case TWord(w) if w.equalsIgnoreCase("TABLESAMPLE") =>
            next(); out += tablesampleClause()
          case _ if atPivotGroup => out += pivotGroup()
          case TWord(w) if Set("FIRST", "LAST")(w.toUpperCase) && peekAt(1)
              .exists { case TOp("(") => true; case _ => false } =>
            // first(...)/last(...) calls (the words are glue only for
            // NULLS FIRST/LAST) — as exprs their inline ORDER BY /
            // IGNORE NULLS forms get the call() rewrites
            out += expr(0)
          case TWord(w) if w.equalsIgnoreCase("RANGE") && peekAt(1).exists {
            case TOp(op) => !Set("(", ")", ";").contains(op)
            case TWord(x) => x.equalsIgnoreCase("AS")
            case _ => false
          } =>
            // `range` as a COLUMN name (the range(...) table
            // function's default output column, e.g. `range::varchar`
            // or `range % 3`): RANGE is glue only in window-frame /
            // table-function position
            out += expr(0)
          case TWord(w) if w.equalsIgnoreCase("AS") && peekAt(1).exists(_.isInstanceOf[TStr]) =>
            // string-literal alias (`AS 'hello world'`) — legal in the
            // reference, an identifier in Spark
            next(); val __astr = next().text
            out += "AS " + quoteIdent(SqlText.unquote(__astr).getOrElse(__astr)) + strColList()
          case TWord(w) if GLUE(w.toUpperCase) && !(w.equalsIgnoreCase("ROW") && peekAt(1).contains(TOp("("))) && !peekAt(1).contains(TOp(".")) =>
            next(); lastGlue = w.toUpperCase; out += w
            val __up = w.toUpperCase
            if (__up == "FROM") fromListCtx = true
            else if (Set("SELECT", "WHERE", "GROUP", "HAVING", "ORDER",
                "LIMIT", "OFFSET", "WINDOW", "QUALIFY", "UNION",
                "EXCEPT", "INTERSECT", "VALUES")(__up)) fromListCtx = false
          case TOp(",") =>
            // the reference tolerates trailing commas in clause lists
            // (VALUES …, / SELECT a, b, FROM): drop one before a
            // closer or end of input
            next()
            if (more && !peekOp(")") && !peekOp(";") && !peekWord("FROM")) {
              out += ","
              // comma subqueries in a FROM list are implicitly
              // LATERAL in the reference (lateral_qualify corpus —
              // `FROM t(x), (SELECT x …)`); Spark needs the keyword.
              // For uncorrelated subqueries LATERAL ≡ the plain comma
              // join, so the insertion is semantics-preserving.
              if (fromListCtx && peekOp("(") && peekAt(1).exists {
                  case TWord(w) =>
                    Set("SELECT", "FROM", "WITH")(w.toUpperCase)
                  case _ => false
                })
                out += "LATERAL"
            }
          case TOp(";") => next(); out += t.text
          case _ => out += expr(0)
        }
      }
      out.mkString(" ")
    }

    /** `TABLESAMPLE method(n)` — the reference's method spellings
      * (RESERVOIR takes a row count, BERNOULLI/SYSTEM a percentage;
      * sample_options.cpp) mapped onto Spark's TABLESAMPLE units.
      * Methods are dropped for the same reason as usingSample().
      */
    private def tablesampleClause(): String = {
      val isMethod = peek match {
        case TWord(m) => Set("RESERVOIR", "BERNOULLI", "SYSTEM")(m.toUpperCase)
        case _ => false
      }
      if (isMethod) {
        val method = next().text.toUpperCase
        expectOp("(")
        val n = next().text
        val unit =
          if (peekOp("%")) { next(); "PERCENT" }
          else if (peekWord("PERCENT")) { next(); "PERCENT" }
          else if (peekWord("ROWS")) { next(); "ROWS" }
          else if (method == "RESERVOIR") "ROWS" else "PERCENT"
        expectOp(")")
        s"TABLESAMPLE ($n $unit)"
      } else {
        val n = next().text
        val unit =
          if (peekOp("%")) { next(); "PERCENT" }
          else if (peekWord("PERCENT")) { next(); "PERCENT" }
          else { if (peekWord("ROWS")) next(); "ROWS" }
        s"TABLESAMPLE ($n $unit)"
      }
    }

    /** `USING SAMPLE 10%` / `10 PERCENT` / `100 ROWS` [ (method) ] →
      * `TABLESAMPLE (…)` on the relation it follows. Scope note: the
      * reference applies USING SAMPLE to the query RESULT (after
      * WHERE and aggregation); the translation samples the INPUT
      * relation, which coincides for the plain `SELECT … FROM t
      * USING SAMPLE …` scan shape — the one this spelling is used
      * for in practice — and is the only shape supported here.
      * Sampling METHOD names (reservoir/bernoulli/system) are
      * dropped: both engines sample probabilistically, neither
      * result is deterministic, and Spark picks its own mechanism.
      */
    private def usingSample(): String = {
      next(); next() // USING SAMPLE
      val n = next().text
      val unit =
        if (peekOp("%")) { next(); "PERCENT" }
        else if (peekWord("PERCENT")) { next(); "PERCENT" }
        else if (peekWord("ROWS")) { next(); "ROWS" }
        else "ROWS" // bare `USING SAMPLE 100` samples rows in the reference
      if (peekOp("(")) { // (method [, seed]) — consume and drop
        var depth = 0
        expectOp("(")
        depth = 1
        while (more && depth > 0) next() match {
          case TOp("(") => depth += 1
          case TOp(")") => depth -= 1
          case _ =>
        }
      }
      s"TABLESAMPLE ($n $unit)"
    }

    /** DDL: `CREATE [OR REPLACE] TABLE t (col TYPE [constraints]…)` /
      * `CREATE [OR REPLACE] VIEW v AS query` / CTAS. Inline column
      * constraints (PRIMARY KEY / NOT NULL / UNIQUE / REFERENCES /
      * CHECK / DEFAULT) are STRIPPED — Spark DDL has no inline
      * constraint grammar; the engine's constraint surface is the
      * audit + enforce-on-insert layer (sources/Dml, u04/u07/u08).
      * Types go through the same dialect type map as casts.
      */
    private def createStatement(): Option[String] = {
      val save = i
      next() // CREATE
      val orReplace =
        if (peekWord("OR")) { next(); require(peekWord("REPLACE")); next(); "OR REPLACE " }
        else ""
      // TEMP/TEMPORARY: views map to Spark temp views natively; a
      // writable TEMP TABLE has no Spark analog, so it becomes a
      // regular managed table — same contents, divergent LIFETIME
      // (warehouse-persistent, not session; reference
      // test/sql/catalog/test_temporary.test)
      val temp =
        if (peekWord("TEMP") || peekWord("TEMPORARY")) { next(); true }
        else false
      // CREATE SCHEMA/DATABASE: Spark-native, pass through (the
      // statement loop would mangle IF NOT EXISTS into a call)
      if (peekWord("SCHEMA") || peekWord("DATABASE")) {
        val sk = next().text.toUpperCase
        var ine = ""
        if (peekWord("IF")) { next(); next(); next(); ine = "IF NOT EXISTS " }
        return Some(s"CREATE $sk $ine${dottedName()}")
      }
      val kind =
        if (peekWord("TABLE")) "TABLE"
        else if (peekWord("VIEW")) "VIEW"
        else { i = save; return None }
      next()
      val tempPrefix = if (temp && kind == "VIEW") "TEMPORARY " else ""
      var ifNotExists = ""
      if (peekWord("IF")) { next(); next(); next(); ifNotExists = "IF NOT EXISTS " } // IF NOT EXISTS
      val name = dottedName()
      if (kind == "VIEW" || peekWord("AS")) { // view or CTAS
        // optional view column-alias list: CREATE VIEW v(a, b) AS …
        var colList = ""
        if (kind == "VIEW" && peekOp("(")) {
          next()
          val vcols = ArrayBuffer.empty[String]
          while (more && !peekOp(")")) next() match {
            case TQuoted(s) => vcols += quoteIdent(s)
            case TOp(",") =>
            case t => vcols += t.text
          }
          expectOp(")")
          colList = s" (${vcols.mkString(", ")})"
        }
        require(peekWord("AS"), "duck-dialect: CREATE VIEW without AS"); next()
        val q = statement()
        return Some(s"CREATE $orReplace$tempPrefix$kind $ifNotExists$name$colList AS $q")
      }
      expectOp("(")
      val cols = ArrayBuffer.empty[String]
      val pkCols = ArrayBuffer.empty[String]
      val defaults = scala.collection.mutable.LinkedHashMap.empty[String, String]
      // generated columns (reference test/sql/generated_columns):
      // recorded with their declared ordinal so reads keep the
      // declared column order; materialized at write time (TableMeta
      // scaladoc documents the VIRTUAL divergence)
      val gcols = ArrayBuffer.empty[TableMeta.GenCol]
      val declared = ArrayBuffer.empty[String] // full declared column order
      val TableConstraint = Set("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")
      // `PRIMARY KEY (a, b)` column list at the current position
      def pkList(): Unit = {
        next() // PRIMARY
        if (peekWord("KEY")) next()
        if (peekOp("(")) {
          next()
          while (more && !peekOp(")")) next() match {
            case TQuoted(s) => pkCols += s
            case TOp(",") =>
            case t => pkCols += t.text
          }
          expectOp(")")
        }
      }
      while (more && !peekOp(")")) {
        peek match {
          // table-level constraint entry — consumed, never a column.
          // PRIMARY KEY columns are RECORDED (TableMeta) for the DML
          // front door's ON CONFLICT defaulting before stripping.
          case TWord(w) if TableConstraint(w.toUpperCase) =>
            if (w.equalsIgnoreCase("PRIMARY")) pkList()
            var depth = 0
            var stop = false
            while (more && !stop) peek match {
              case TOp("(") => depth += 1; next()
              case TOp(")") if depth > 0 => depth -= 1; next()
              case TOp(")") => stop = true
              case TOp(",") if depth == 0 => stop = true
              case _ => next()
            }
          case _ =>
            val (cname0, cname) = next() match {
              case TQuoted(s) => (s, quoteIdent(s))
              case t => (t.text, t.text)
            }
            // `name [TYPE] [GENERATED ALWAYS] AS (expr) [VIRTUAL|STORED]`
            // — a generated column (create_statement.cpp generated
            // column constraint). The expression goes through the
            // full dialect expression parser.
            def genTail(declaredTy: Option[String]): Unit = {
              if (peekWord("GENERATED")) {
                next()
                require(peekWord("ALWAYS"), "generated column: expected ALWAYS")
                next()
              }
              require(peekWord("AS"), "generated column: expected AS")
              next()
              expectOp("(")
              val ex = expr(0)
              expectOp(")")
              val virtualKind =
                if (peekWord("VIRTUAL")) { next(); true }
                else if (peekWord("STORED")) { next(); false }
                else true // reference default is VIRTUAL
              val fullEx = declaredTy.map(t => s"CAST(($ex) AS $t)").getOrElse(ex)
              gcols += TableMeta.GenCol(cname0, fullEx, virtualKind)
            }
            if (peekWord("AS") || peekWord("GENERATED")) genTail(None)
            else {
              val ty = parseType()
              if (peekWord("AS") || peekWord("GENERATED")) genTail(Some(ty))
              else {
                // strip inline constraints up to the next ',' or ')',
                // recording PRIMARY KEY and DEFAULT on the way past
                var depth = 0
                var stop = false
                var dflt: Option[String] = None
                while (more && !stop) peek match {
                  case TOp("(") => depth += 1; next()
                  case TOp(")") if depth > 0 => depth -= 1; next()
                  case TOp(")") => stop = true
                  case TOp(",") if depth == 0 => stop = true
                  case TWord(w) if depth == 0 && w.equalsIgnoreCase("PRIMARY") =>
                    next()
                    if (peekWord("KEY")) { next(); pkCols += cname0 }
                  case TWord(w) if depth == 0 && w.equalsIgnoreCase("DEFAULT") =>
                    next()
                    dflt = Some(expr(0))
                  case _ => next()
                }
                dflt.foreach(d => defaults(cname0) = d)
                // DEFAULT survives into the Spark DDL — Spark ≥3.4
                // fills it on native INSERT paths, exactly like the
                // reference binds the default expression
                cols += s"$cname $ty" + dflt.map(d => s" DEFAULT $d").getOrElse("")
              }
            }
            declared += cname0
        }
        if (peekOp(",")) next()
      }
      expectOp(")")
      // TEMP-table tail `ON COMMIT PRESERVE|DELETE ROWS`: PRESERVE is
      // the engine's (and the reference's) behavior anyway — consume
      if (peekWord("ON")) { next(); next(); next(); next() }
      val bare = name.stripPrefix("`").stripSuffix("`")
      TableMeta.clear(bare)
      if (pkCols.nonEmpty) TableMeta.recordPk(bare, pkCols.toSeq)
      TableMeta.recordDefaults(bare, defaults.toMap)
      TableMeta.recordGenerated(bare, gcols.toSeq)
      if (gcols.nonEmpty) TableMeta.recordDeclaredOrder(bare, declared.toSeq)
      Some(s"CREATE $orReplace" + s"TABLE $ifNotExists$name (${cols.mkString(", ")}) USING parquet")
    }

    /** `SELECT DISTINCT ON (keys) sel FROM … [ORDER BY o]` keeps the
      * FIRST row per key group in ORDER BY order (the Postgres-ism
      * the reference inherits; q46's hand-built shape). Rewritten to
      *   SELECT * EXCEPT (__rn) FROM
      *     (SELECT sel, row_number() OVER (PARTITION BY keys
      *        ORDER BY o-or-keys) AS __rn FROM …) WHERE __rn = 1
      *   [ORDER BY o]
      */
    private def distinctOnSplit(): Option[String] = {
      if (!(peekWord("SELECT") && peekAt(1).exists {
        case TWord(w) => w.equalsIgnoreCase("DISTINCT"); case _ => false
      } && peekAt(2).exists {
        case TWord(w) => w.equalsIgnoreCase("ON"); case _ => false
      } && peekAt(3).contains(TOp("(")))) return None
      next(); next(); next() // SELECT DISTINCT ON
      expectOp("(")
      val keys = ArrayBuffer.empty[String]
      while (more && !peekOp(")")) {
        keys += expr(0)
        if (peekOp(",")) next()
      }
      expectOp(")")
      // select list: up to depth-0 FROM — or the enclosing subquery's
      // `)` / statement end (FROM-less correlated scalar subqueries
      // carry DISTINCT ON too: `(SELECT DISTINCT ON(i) j)`)
      val sel = ArrayBuffer.empty[String]
      while (more && !peekWord("FROM") && !peekWord("ORDER") &&
          !peekOp(")") && !peekOp(";")) {
        peek match {
          case TWord(w) if GLUE(w.toUpperCase) && !(w.equalsIgnoreCase("ROW") && peekAt(1).contains(TOp("("))) && !peekAt(1).contains(TOp(".")) => next(); sel += w
          case TOp(",") => next(); sel += ","
          case _ => sel += expr(0)
        }
      }
      // FROM … up to depth-0 ORDER BY (or end/`)`)
      val fromPart = ArrayBuffer.empty[String]
      while (more && !peekOp(")") && !peekWord("ORDER")) {
        peek match {
          case TWord(w) if w.equalsIgnoreCase("AS") && peekAt(1).exists(_.isInstanceOf[TStr]) =>
            // string-literal alias (`AS 'hello world'`) — legal in the
            // reference, an identifier in Spark
            next(); val __astr = next().text
            fromPart += "AS " + quoteIdent(SqlText.unquote(__astr).getOrElse(__astr)) + strColList()
          case TWord(w) if GLUE(w.toUpperCase) && !(w.equalsIgnoreCase("ROW") && peekAt(1).contains(TOp("("))) && !peekAt(1).contains(TOp(".")) =>
            next(); lastGlue = w.toUpperCase; fromPart += w
          case TOp(",") | TOp(";") => fromPart += next().text
          case _ => fromPart += expr(0)
        }
      }
      val order = ArrayBuffer.empty[String]
      if (peekWord("ORDER")) {
        next(); require(peekWord("BY"), "duck-dialect: ORDER without BY"); next()
        // a trailing LIMIT/OFFSET belongs OUTSIDE the rewritten
        // window spec — stop the order scan there
        while (more && !peekOp(")") && !peekWord("LIMIT") && !peekWord("OFFSET")) {
          peek match {
            case TWord(w) if GLUE(w.toUpperCase) && !(w.equalsIgnoreCase("ROW") && peekAt(1).contains(TOp("("))) && !peekAt(1).contains(TOp(".")) => next(); order += w
            case TOp(",") => next(); order += ","
            case _ => order += expr(0)
          }
        }
      }
      val limitTail = ArrayBuffer.empty[String]
      while (more && !peekOp(")") && !peekOp(";")) limitTail += next().text
      // ordinal keys (`DISTINCT ON (1) i, j` = first select item, the
      // Postgres ordinal rule) must resolve to the select expression —
      // a bare literal in PARTITION BY is a constant, not an ordinal
      val selItems = ArrayBuffer(ArrayBuffer.empty[String])
      sel.foreach { s =>
        if (s == ",") selItems += ArrayBuffer.empty[String]
        else selItems.last += s
      }
      def keyExpr(k: String): String =
        if (k.matches("\\d+") && k.toInt >= 1 && k.toInt <= selItems.length)
          selItems(k.toInt - 1).mkString(" ")
            .replaceAll("(?is)\\s+AS\\s+[\\w`\"]+\\s*$", "")
        else k
      val part = keys.map(keyExpr).mkString(", ")
      val ord = if (order.nonEmpty) order.mkString(" ") else part
      val orderTail = if (order.nonEmpty) s" ORDER BY ${order.mkString(" ")}" else ""
      val tail = if (limitTail.nonEmpty) " " + limitTail.mkString(" ") else ""
      // FROM-less (a correlated scalar subquery carries exactly one
      // row): DISTINCT ON over one row IS that row — and Spark cannot
      // run a correlated window, so the plain projection is both
      // correct and the only runnable plan
      if (fromPart.isEmpty)
        Some(s"SELECT ${sel.mkString(" ")}$tail")
      else
        Some(s"SELECT * EXCEPT (__rn) FROM (SELECT ${sel.mkString(" ")}, " +
          s"row_number() OVER (PARTITION BY $part ORDER BY $ord) AS __rn " +
          s"${fromPart.mkString(" ")}) WHERE __rn = 1$orderTail$tail")
    }

    /** QUALIFY rewrite. The reference filters on window results after
      * windows are computed (parser/transform/statement); Spark has
      * no QUALIFY, so
      *   SELECT sel FROM … WHERE … [GROUP BY …] QUALIFY pred [tail]
      * becomes
      *   SELECT * EXCEPT (__qualify) FROM
      *     (SELECT sel, (pred) AS __qualify FROM … WHERE … [GROUP BY …])
      *   WHERE __qualify [tail]
      * — the predicate is evaluated in the inner scope where every
      * FROM column is still visible (q29's hand-built shape, emitted
      * from the reference's own spelling). DISTINCT + QUALIFY is out
      * of scope (dedup would see the helper column).
      */
    private def qualifySplit(): Option[String] = {
      if (!peekWord("SELECT")) return None
      // depth-0 pre-scan for QUALIFY / the SELECT-list end
      var k = i
      var depth = 0
      var fromAt = -1
      var qualifyAt = -1
      var tailAt = -1
      while (k < toks.length && !(depth == 0 && toks(k) == TOp(")"))) {
        toks(k) match {
          case TOp("(") | TOp("[") | TOp("{") => depth += 1
          case TOp(")") | TOp("]") | TOp("}") => depth -= 1
          case TWord(w) if depth == 0 =>
            val up = w.toUpperCase
            if (up == "FROM" && fromAt < 0) fromAt = k
            if (up == "QUALIFY" && qualifyAt < 0) qualifyAt = k
            if (qualifyAt >= 0 && tailAt < 0 && k > qualifyAt &&
              Set("ORDER", "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT")(up))
              tailAt = k
          case _ =>
        }
        k += 1
      }
      // FROM-less QUALIFY (`SELECT x * 2 QUALIFY row_number() OVER ()
      // < 10` inside a lateral comma subquery, lateral_qualify corpus)
      // is legal in the reference — the inner scope just has no FROM
      if (qualifyAt < 0 || (fromAt >= 0 && fromAt > qualifyAt)) return None
      val end = k
      if (tailAt < 0) tailAt = end
      // translate the four segments independently (clause(): the glue
      // loop WITHOUT the FROM-first statement heuristic, which would
      // otherwise re-wrap the FROM segment in a fresh SELECT *)
      val selEnd = if (fromAt >= 0) fromAt else qualifyAt
      val selPart = new P(toks.slice(i, selEnd), nativeTime).clause()
      val fromPart =
        if (fromAt >= 0) new P(toks.slice(fromAt, qualifyAt), nativeTime).clause() else ""
      val pred = new P(toks.slice(qualifyAt + 1, tailAt), nativeTime).expr(0)
      val tail = if (tailAt < end) new P(toks.slice(tailAt, end), nativeTime).clause() else ""
      i = end
      require(!selPart.toUpperCase.startsWith("SELECT DISTINCT"),
        "duck-dialect: QUALIFY with DISTINCT is not supported")
      // CAST: `QUALIFY NULL` is legal in the reference (typeless NULL
      // filters everything); Spark's filter demands a BOOLEAN
      Some((s"SELECT * EXCEPT (__qualify) FROM ($selPart, " +
        s"CAST(($pred) AS BOOLEAN) AS __qualify " +
        s"$fromPart) WHERE __qualify $tail").trim)
    }

    /** `FROM t [SELECT cols ...]` → `SELECT cols FROM t ...` /
      * `SELECT * FROM t ...`. Consumes the FROM clause tokens up to a
      * depth-0 SELECT or clause keyword.
      */
    /** WITH [name [(cols)] AS [MATERIALIZED] (body)]+ — bodies
      * translate recursively; column aliases become a subquery alias
      * (Spark's CTE grammar has none). Throws on non-CTE shapes. */
    private def withClause(): String = {
      next() // WITH
      val parts = ArrayBuffer.empty[String]
      var going = true
      while (going) {
        val name = next() match {
          case TQuoted(s) => quoteIdent(s)
          case TWord(w) => w
          case t => throw new IllegalArgumentException(
            s"duck-dialect: CTE name expected, got ${t.text}")
        }
        val cols: Option[Seq[String]] =
          if (peekOp("(")) {
            expectOp("(")
            val cs = ArrayBuffer.empty[String]
            while (more && !peekOp(")")) {
              cs += (next() match {
                case TQuoted(s) => quoteIdent(s)
                case t => t.text
              })
              if (peekOp(",")) next()
            }
            expectOp(")")
            Some(cs.toSeq)
          } else None
        require(peekWord("AS"), "duck-dialect: CTE without AS"); next()
        if (peekWord("MATERIALIZED")) next()
        else if (peekWord("NOT") && peekAt(1).exists {
          case TWord(x) => x.equalsIgnoreCase("MATERIALIZED"); case _ => false
        }) { next(); next() }
        require(peekOp("("), "duck-dialect: CTE body expected")
        val body = primaryParen()
        parts += (cols match {
          case Some(cs) =>
            s"$name AS (SELECT * FROM $body AS $name(${cs.mkString(", ")}))"
          case None => s"$name AS $body"
        })
        if (peekOp(",")) next() else going = false
      }
      s"WITH ${parts.mkString(", ")}"
    }

    private def fromFirst(): String = {
      next() // FROM
      lastGlue = "FROM"
      val fromPart = ArrayBuffer.empty[String]
      var selectPart: Option[String] = None
      var done = false
      while (more && !done && !peekOp(")") && !peekOp(";")) {
        if (peekWord("SELECT")) {
          next()
          val sel = ArrayBuffer.empty[String]
          while (more && !peekOp(")") && !peekOp(";") && !isClauseStart(peek)) {
            peek match {
              case TWord(w) if GLUE(w.toUpperCase) && !w.equalsIgnoreCase("AS")
                && !w.equalsIgnoreCase("DISTINCT") => done = true; sel += { next(); w }
              case TOp(",") => next(); sel += ","
              case _ => sel += expr(0)
            }
            if (done) { sel.remove(sel.length - 1); i -= 1 }
          }
          selectPart = Some(sel.mkString(" "))
          done = true
        } else if (isClauseStart(peek)) done = true
        else peek match {
          case TWord(w) if w.equalsIgnoreCase("AS") && peekAt(1).exists(_.isInstanceOf[TStr]) =>
            // string-literal alias (`AS 'hello world'`) — legal in the
            // reference, an identifier in Spark
            next(); val __astr = next().text
            fromPart += "AS " + quoteIdent(SqlText.unquote(__astr).getOrElse(__astr)) + strColList()
          case TWord(w) if GLUE(w.toUpperCase) && !(w.equalsIgnoreCase("ROW") && peekAt(1).contains(TOp("("))) && !peekAt(1).contains(TOp(".")) =>
            next(); lastGlue = w.toUpperCase; fromPart += w
          case TOp(",") =>
            next(); fromPart += ","
            // implicit LATERAL for comma subqueries (see the glue
            // loop's comma case)
            if (peekOp("(") && peekAt(1).exists {
                case TWord(w2) =>
                  Set("SELECT", "FROM", "WITH")(w2.toUpperCase)
                case _ => false
              })
              fromPart += "LATERAL"
          case TOp("(") => fromPart += primaryParen()
          case _ => fromPart += expr(0)
        }
      }
      val rest = new ArrayBuffer[String]
      while (more && !peekOp(")")) {
        peek match {
          case TWord(w) if GLUE(w.toUpperCase) && !(w.equalsIgnoreCase("ROW") && peekAt(1).contains(TOp("("))) && !peekAt(1).contains(TOp(".")) => next(); rest += w
          case TOp(",") | TOp(";") => rest += next().text
          case _ => rest += expr(0)
        }
      }
      s"SELECT ${selectPart.getOrElse("*")} FROM ${fromPart.mkString(" ")} ${rest.mkString(" ")}".trim
    }

    private def isClauseStart(t: Tok): Boolean = t match {
      case TWord(w) => Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
        "OFFSET", "QUALIFY", "WINDOW", "UNION", "EXCEPT", "INTERSECT")(w.toUpperCase)
      case _ => false
    }

    // -------------------------------------------------- expressions

    // ------------------------- INT128 (HUGEINT/UHUGEINT) kernel tags
    // Renderings produced by the hugeint kernel family carry their
    // own recognizable prefix — the translator's only way to
    // propagate "this subexpression is 128-bit" through the
    // string-building Pratt parser. Only BINARY-producing forms tag.
    private val HugeTag =
      "^(u?hugeint)(_(add|sub|mul|div|mod|neg|abs|shl|shr|and|or|xor|lift))?\\(".r

    /** True only when the kernel call spans the WHOLE expression
      * (after stripping fully-enclosing parens) — a comparison over
      * lifted operands like `(hugeint_lift(a) < hugeint_lift(b))`
      * is BOOLEAN, not INT128, and must not re-lift. */
    private def isHuge(s0: String): Boolean = {
      var s = s0.trim
      while (s.startsWith("(") && SqlText.matchParen(s, 0) == s.length - 1)
        s = s.substring(1, s.length - 1).trim
      HugeTag.findFirstIn(s).isDefined && {
        val open = s.indexOf('(')
        open >= 0 && SqlText.matchParen(s, open) == s.length - 1
      }
    }

    private def hugePre(l: String, r: String): String =
      if (l.startsWith("uhugeint") || r.startsWith("uhugeint")) "uhugeint"
      else "hugeint"

    private def hugeLift(s: String, pre: String): String =
      if (isHuge(s)) s else s"${pre}_lift($s)"

    /** Integer literal rendering with the reference's width ladder:
      * ≤38 digits stay Spark decimal literals (exact, the r4 ladder);
      * wider literals become INT128 kernel literals when in range
      * (hugeint.cpp), else DOUBLE — DuckDB's own literal fallback.
      * DOCUMENTED DIVERGENCE: a >38-digit literal projected bare
      * (`SELECT 9…9`) surfaces as the kernel's 16-byte BINARY
      * encoding, not a rendered number — wrap in `::VARCHAR` (→
      * hugeint_str) for display; arithmetic/comparisons/casts over it
      * are exact either way. */
    private def numLiteral(s: String): String =
      if (s.length > 39 && s.matches("-?[0-9]+\\.[0-9]+") &&
          s.replaceAll("[-.]", "").length > 38)
        // DECIMAL literal past 38 digits: the reference reads DOUBLE
        s"CAST('$s' AS DOUBLE)"
      else if (s.matches("(?i)-?[0-9]+(\\.[0-9]+)?E[+-]?[0-9]+") &&
          java.lang.Double.isInfinite(s.toDouble))
        // exponent literal past DOUBLE range: the reference reads inf
        // (test_numeric_overflow.test: SELECT 1e1000 = inf); Spark's
        // parser raises INVALID_NUMERIC_LITERAL_RANGE instead
        s"CAST('${if (s.startsWith("-")) "-" else ""}Infinity' AS DOUBLE)"
      else if (s.length <= 38 || !s.matches("-?[0-9]+")) s
      else {
        val v = new java.math.BigInteger(s)
        if (HugeintKernel.inRange(v, signed = true)) s"hugeint('$s')"
        else s"CAST('$s' AS DOUBLE)"
      }

    /** A string literal whose integer value DECIMAL(38) cannot hold —
      * the only case where a `::HUGEINT` cast leaves the r4 decimal
      * ladder for the kernel representation. */
    private def outOf38(base: String): Boolean =
      base.matches("'[+-]?[0-9]+'") && {
        val digits = base.stripPrefix("'").stripSuffix("'")
          .stripPrefix("+").stripPrefix("-").replaceFirst("^0+", "")
        digits.length > 38
      }

    /** Date/timestamp literals beyond Spark's ±9999 literal-parser
      * range (timestamp_limits.test: years to ±290308) — Spark's
      * int64-micros TimestampType HOLDS them (year ±292471); only the
      * string parser refuses. Precompute the micros/epoch-days at
      * translate time and emit timestamp_micros()/
      * date_from_unix_date(). Returns None when not a big literal
      * (the normal path keeps the typed literal). */
    private val BigTs =
      ("^'(-?\\d{1,6})-(\\d{2})-(\\d{2})" +
        "(?: \\(BC\\))?(?: (\\d{2}):(\\d{2}):(\\d{2})(\\.\\d{1,6})?)?( \\(BC\\))?\\s*'$").r
    private def bigTemporal(lit: String, isDate: Boolean): Option[String] = {
      val t = lit.trim
      t match {
        case BigTs(y, mo, d, h, mi, s, frac, bc2) =>
          val bc = bc2 != null || t.contains("(BC)")
          // Spark's typed-literal parser handles exactly the 4-digit
          // positive-year form; everything else (short years
          // '209-03-22', astronomical negatives '-8-01-01', >4-digit
          // years) precomputes here
          if (y.length == 4 && !y.startsWith("-") && !bc) return None
          if (y.length <= 4 && !y.startsWith("-") && bc) return None // bcLiteral path
          try {
            val year = if (bc) -(y.toLong - 1) else y.toLong
            if (isDate) {
              // a DATE target truncates any time component (the
              // reference: CAST('10000-01-01 10:00:00' AS DATE) is a
              // DATE) — always emit a DATE-typed expression
              val days = java.time.LocalDate
                .of(Math.toIntExact(year), mo.toInt, d.toInt).toEpochDay
              Some(s"date_from_unix_date(${Math.toIntExact(days)})")
            } else {
              val ld = java.time.LocalDateTime.of(Math.toIntExact(year),
                mo.toInt, d.toInt,
                if (h == null) 0 else h.toInt,
                if (mi == null) 0 else mi.toInt,
                if (s == null) 0 else s.toInt)
              val micros = Math.addExact(
                Math.multiplyExact(ld.toEpochSecond(java.time.ZoneOffset.UTC),
                  1000000L),
                if (frac == null) 0L
                else (frac.drop(1).padTo(6, '0').take(6)).toLong)
              Some(s"timestamp_micros(${micros}L)")
            }
          } catch { case _: ArithmeticException | _: java.time.DateTimeException =>
            None // past even int64 micros: let Spark raise
          }
        case _ => None
      }
    }

    /** `'0044-03-15 (BC)'`-style literal (the reference's BC date/
      * timestamp rendering, date_t::FromString) → astronomical
      * negative year for Spark's proleptic parser: year N BC = year
      * −(N−1), so 0044 BC → -0043, 0001 BC → +0000. */
    private val BcLit = "^'(\\d{4,6})-(\\d{2}-\\d{2}) \\(BC\\)( [^']*)?'$".r
    private def bcLiteral(base: String): Option[String] = base.trim match {
      case BcLit(y, md, time) =>
        val astro = y.toLong - 1
        val sign = if (astro == 0) "" else "-"
        Some(s"'$sign${"%04d".format(astro)}-$md${Option(time).getOrElse("")}'")
      case _ => None
    }

    /** A varint-kernel-tagged expression (plans/Varint.scala) — the
      * whole span is one varint(...) / varint_str-producing call. */
    private val VarintTag = "^varint\\(".r
    private def isVarint(s0: String): Boolean = {
      var s = s0.trim
      while (s.startsWith("(") && SqlText.matchParen(s, 0) == s.length - 1)
        s = s.substring(1, s.length - 1).trim
      VarintTag.findFirstIn(s).isDefined && {
        val open = s.indexOf('(')
        open >= 0 && SqlText.matchParen(s, open) == s.length - 1
      }
    }

    /** Casts over kernel-tagged VARINT operands (CAST / `::`). */
    private def castVarint(base: String, rawTy: String, mapped: String): String =
      rawTy match {
        case "VARINT" => base
        case "VARCHAR" | "TEXT" | "STRING" | "CHAR" | "BPCHAR" =>
          s"varint_str($base)"
        case "DOUBLE" | "FLOAT8" | "REAL" | "FLOAT" | "FLOAT4" =>
          s"CAST(varint_dbl($base) AS $mapped)"
        case "HUGEINT" | "INT128" => s"hugeint(varint_str($base))"
        case "UHUGEINT" | "UINT128" => s"uhugeint(varint_str($base))"
        case _ => s"CAST(varint_str($base) AS $mapped)"
      }

    /** Casts over kernel-tagged INT128 operands (CAST / `::`). */
    private def castHuge(base: String, rawTy: String, mapped: String): Option[String] = {
      val pre = hugePre(base, "")
      rawTy match {
        case "HUGEINT" | "INT128" => Some(base)
        case "UHUGEINT" | "UINT128" => Some(base)
        case "VARCHAR" | "TEXT" | "STRING" | "CHAR" | "BPCHAR" =>
          Some(s"${pre}_str($base)")
        case "DOUBLE" | "FLOAT8" | "REAL" | "FLOAT" | "FLOAT4" =>
          Some(s"CAST(${pre}_dbl($base) AS $mapped)")
        case "BIGINT" | "INT8" | "LONG" | "INTEGER" | "INT" | "INT4" |
            "SIGNED" | "SMALLINT" | "INT2" | "TINYINT" | "INT1" =>
          Some(s"CAST(${pre}_long($base) AS $mapped)")
        case t if t.startsWith("DECIMAL") || t.startsWith("NUMERIC") =>
          Some(s"CAST(${pre}_str($base) AS $mapped)")
        case _ => None
      }
    }

    def expr(min: Int): String = {
      var left = prefix()
      var loop = true
      while (loop && more) {
        peek match {
          case TOp("->>") if 50 >= min =>
            // JSON text extraction (bundled json extension `->>`)
            next(); left = jsonExtractEmit(left, expr(51))
          case TOp("->") if 50 >= min && peekAt(1).contains(TOp("[")) && {
            // `json -> ['path', …]` extracts a LIST of paths
            // (test_json_extract.test:211) — but `x -> [x]` in
            // transform() is a lambda with a list-literal BODY; same
            // left-side guard as the integer-index case
            val l = left.trim
            !l.matches("[A-Za-z_][A-Za-z0-9_]*") &&
            !l.matches("""\(\s*[A-Za-z_]\w*\s*(,\s*[A-Za-z_]\w*\s*)+\)""")
          } =>
            next()
            val paths = expr(51)
            left = s"transform($paths, __jp -> get_json_object($left, __jp))"
          case TOp("->") if 50 >= min && (peekAt(1) match {
            case Some(TStr(_)) => true // 'key' / '$.path' — json operator
            // integer operand = array-index extraction ('[1,2,3]'->0,
            // json issue13948) — but ONLY when the left side cannot be
            // a lambda parameter list: a bare identifier (`x -> 0` in
            // transform) or a parenthesized identifier list (`(a, b)
            // -> 0` in list_reduce) must stay lambdas
            case Some(TNum(_)) =>
              val l = left.trim
              !l.matches("[A-Za-z_][A-Za-z0-9_]*") &&
              !l.matches("""\(\s*[A-Za-z_]\w*\s*(,\s*[A-Za-z_]\w*\s*)+\)""")
            case _ =>
              // non-literal right operand ('json' -> pathcol): a JSON
              // path EXPRESSION — but only when the left side cannot
              // be a lambda parameter list (bare identifier or
              // parenthesized identifier list stays a lambda)
              val l = left.trim
              !l.matches("[A-Za-z_][A-Za-z0-9_]*") &&
              !l.matches("""\(\s*[A-Za-z_]\w*\s*(,\s*[A-Za-z_]\w*\s*)*\)""")
          }) =>
            next(); left = jsonExtractEmit(left, expr(51))
          case TOp("->") if LAMBDA_PREC >= min =>
            next(); val body = expr(LAMBDA_PREC + 1)
            // Spark's grammar takes `x -> e` and `(a, b) -> e` but NOT
            // a parenthesized SINGLE parameter — strip `(x)` to `x`
            // (the reference accepts both spellings)
            val lhs = {
              val l = left.trim
              val m = """^\(\s*([A-Za-z_]\w*)\s*\)$""".r.findFirstMatchIn(l)
              m.map(_.group(1)).getOrElse(left)
            }
            left = s"$lhs -> $body" // Spark lambda: never parenthesize
          case TOp(o) if PASS_INFIX.contains(o) && PASS_INFIX(o) >= min =>
            next()
            if (!more || peekOp(")")) { // e.g. `LIMIT 1%`: no right operand
              left = s"$left $o"; loop = false
            } else if (Set("=", "<", ">", "<=", ">=", "<>", "!=")(o) &&
                (peek match {
                  case TWord(q) => Set("ANY", "ALL", "SOME")(q.toUpperCase) &&
                    peekAt(1).exists { case TOp("(") => true; case _ => false }
                  case _ => false
                })) {
              // quantified comparison `x op ANY|ALL|SOME (subquery)`
              // (reference subquery/ANY semantics incl. 3-valued logic:
              // ANY = max over comparisons with NULL-propagation, ALL =
              // min; empty set -> FALSE / TRUE). Spark has no ANY/ALL,
              // so both compile to an aggregated scalar subquery.
              val kw = next().text.toUpperCase
              val sub = primaryParen()
              val cmp = s"(($left) $o __qv)"
              left =
                if (kw == "ALL")
                  s"(SELECT CASE WHEN count(*) = 0 THEN TRUE WHEN NOT min(__qc) THEN FALSE " +
                    s"WHEN count(*) > count(__qc) THEN NULL ELSE TRUE END " +
                    s"FROM (SELECT $cmp AS __qc FROM $sub AS __q_t(__qv)))"
                else
                  s"(SELECT CASE WHEN max(__qc) THEN TRUE WHEN count(*) > count(__qc) THEN NULL " +
                    s"ELSE FALSE END " +
                    s"FROM (SELECT $cmp AS __qc FROM $sub AS __q_t(__qv)))"
            } else {
              val r = expr(PASS_INFIX(o) + 1)
              left =
                if (isHuge(left) || isHuge(r)) {
                  val pre = hugePre(left, r)
                  o match {
                    case "+" => s"${pre}_add(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                    case "-" => s"${pre}_sub(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                    case "*" => s"${pre}_mul(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                    case "&" => s"${pre}_and(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                    case "|" => s"${pre}_or(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                    case "<<" => s"${pre}_shl(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                    case ">>" => s"${pre}_shr(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                    case "||" => s"($left $o $r)"
                    // the encoding is order-preserving: comparisons
                    // are native byte comparisons after lifting
                    case _ => s"(${hugeLift(left, pre)} $o ${hugeLift(r, pre)})"
                  }
                } else s"($left $o $r)"
            }
          case TOp(o) if REWRITE_INFIX.contains(o) && REWRITE_INFIX(o) >= min =>
            next()
            if (o == "%" && (!more || peekOp(")") || isGlue(peek))) {
              // `LIMIT 1%`: no right operand — keep the raw suffix for
              // the statement-level percent-limit route
              left = s"$left $o"; loop = false
            } else {
            val r = expr(REWRITE_INFIX(o) + 1)
            if (Set("/", "%", "//", "**", "^")(o) && (isHuge(left) || isHuge(r))) {
              val pre = hugePre(left, r)
              left = o match {
                // `/` on the reference's hugeints is DOUBLE division
                case "/" => s"try_divide(${pre}_dbl(${hugeLift(left, pre)}), ${pre}_dbl(${hugeLift(r, pre)}))"
                case "%" => s"${pre}_mod(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                case "//" => s"${pre}_div(${hugeLift(left, pre)}, ${hugeLift(r, pre)})"
                case _ => s"power(${pre}_dbl(${hugeLift(left, pre)}), ${pre}_dbl(${hugeLift(r, pre)}))"
              }
            } else {
            left = o match {
              case "/"        => s"try_divide($left, $r)"
              case "%"        => s"try_mod($left, $r)"
              case "**" | "^" => s"power($left, $r)"
              case "//"       => s"`//`($left, $r)"
              case "~"        => s"regexp_full_match($left, $r)"
              case "!~"       => s"(NOT regexp_full_match($left, $r))"
              case "~*"       => s"regexp_full_match($left, concat('(?i)', $r))"
              case "!~*"      => s"(NOT regexp_full_match($left, concat('(?i)', $r)))"
              case "~~"       => s"($left LIKE $r)"
              case "!~~"      => s"($left NOT LIKE $r)"
              case "~~*"      => s"($left ILIKE $r)"
              case "!~~*"     => s"($left NOT ILIKE $r)"
              case "<->"      => s"list_distance($left, $r)"
              case "<=>"      => s"list_cosine_distance($left, $r)"
              case "&&"       => s"list_has_any($left, $r)"
              case "@>"       => s"list_has_all($left, $r)"
              case "<@"       => s"list_has_all($r, $left)"
              case "^@"       => s"starts_with($left, $r)"
              case "=="       => s"($left = $r)"
            }
            }
            }
          case TWord(w) if w.equalsIgnoreCase("AND") && 20 >= min =>
            next(); val r = expr(21); left = s"($left AND $r)"
          case TWord(w) if w.equalsIgnoreCase("OR") && 10 >= min =>
            next(); val r = expr(11); left = s"($left OR $r)"
          case TWord(w) if w.equalsIgnoreCase("BETWEEN") && 30 >= min =>
            next(); val lo = expr(31)
            if (peekWord("PRECEDING") || peekWord("FOLLOWING")) {
              // window frame (`ORDER BY x RANGE BETWEEN n PRECEDING …`):
              // not a predicate — emit as frame text and yield to glue
              left = s"$left BETWEEN $lo"; loop = false
            } else {
              require(peekWord("AND"), "duck-dialect: BETWEEN without AND"); next()
              val hi = expr(31); left = s"($left BETWEEN $lo AND $hi)"
            }
          case TWord(w) if w.equalsIgnoreCase("NOT") && 30 >= min
            && peekAt(1).exists {
              case TWord(x) => x.equalsIgnoreCase("NULL"); case _ => false
            } =>
            // postfix `expr NOT NULL` ≡ IS NOT NULL (reference
            // grammar shorthand, pinned in DuckDB 1.0) (r13)
            next(); next()
            left = s"($left IS NOT NULL)"
          case TWord(w) if w.equalsIgnoreCase("NOT") && 30 >= min
            && peekAt(1).exists {
              case TWord(x) => Set("BETWEEN", "IN", "LIKE", "ILIKE", "SIMILAR", "GLOB")(x.toUpperCase)
              case _ => false
            } =>
            next() // NOT — re-dispatch on the following operator word
            val t = peek.text.toUpperCase
            if (t == "BETWEEN") {
              next(); val lo = expr(31)
              require(peekWord("AND"), "duck-dialect: BETWEEN without AND"); next()
              val hi = expr(31); left = s"($left NOT BETWEEN $lo AND $hi)"
            } else if (t == "IN") {
              next()
              if (peekOp("(")) { val r = primaryParen(); left = s"($left NOT IN $r)" }
              else left = inCollection(left, negate = true)
            }
            else if (t == "GLOB") {
              next(); left = globEmit(left, expr(31), negate = true)
            }
            else if (t == "SIMILAR") {
              next(); require(peekWord("TO"), "duck-dialect: SIMILAR without TO"); next()
              val r = expr(31); left = s"(NOT regexp_full_match($left, $r))"
            }
            else {
              next(); val r = expr(31)
              val esc = if (peekWord("ESCAPE")) { next(); Some(expr(31)) } else None
              left = likeEmit(left, t, r, esc, negate = true)
            }
          case TWord(w) if w.equalsIgnoreCase("IN") && 30 >= min =>
            next()
            if (peekOp("(")) { val r = primaryParen(); left = s"($left IN $r)" }
            else left = inCollection(left, negate = false)
          case TWord(w) if Set("LIKE", "ILIKE", "RLIKE", "GLOB", "SIMILAR")(w.toUpperCase) && 30 >= min =>
            next(); val kw = w.toUpperCase
            if (kw == "SIMILAR") { // SIMILAR TO p → full-match regex
              require(peekWord("TO"), "duck-dialect: SIMILAR without TO"); next()
              val r = expr(31); left = s"regexp_full_match($left, $r)"
            } else if (kw == "GLOB") {
              left = globEmit(left, expr(31), negate = false)
            } else {
              val r = expr(31)
              val esc = if (peekWord("ESCAPE")) { next(); Some(expr(31)) } else None
              left = likeEmit(left, kw, r, esc, negate = false)
            }
          case TWord(w) if w.equalsIgnoreCase("IS") && 30 >= min =>
            next()
            val not = if (peekWord("NOT")) { next(); "NOT " } else ""
            if (peekWord("DISTINCT")) {
              next(); require(peekWord("FROM"), "duck-dialect: IS DISTINCT without FROM"); next()
              val r = expr(31); left = s"($left IS ${not}DISTINCT FROM $r)"
            } else {
              val lit = next().text // NULL / TRUE / FALSE / UNKNOWN / NAN?
              left = s"($left IS $not$lit)"
            }
          case _ => loop = false
        }
      }
      left
    }

    private def prefix(): String = {
      require(more, "duck-dialect: unexpected end of input in expression")
      val t = next()
      val base = t match {
        case TOp("-") if (peek match {
          case TNum(n) => n.length > 38 && n.matches("[0-9]+")
          case _ => false
        }) =>
          // fold the sign into the INT128/DOUBLE literal decision —
          // -(2^127) is a valid HUGEINT whose positive half is not
          numLiteral("-" + next().text)
        case TOp("-") =>
          val e = expr(90)
          if (isHuge(e)) s"${hugePre(e, "")}_neg($e)" else s"(- $e)"
        case TOp("+") => expr(90)
        case TOp("~") => s"(~ ${expr(90)})"
        case TOp("@") => s"abs(${expr(90)})"
        case TWord(w) if w.equalsIgnoreCase("NOT") && peekWord("MATERIALIZED")
            && peekAt(1).exists { case TOp("(") => true; case _ => false } =>
          next() // MATERIALIZED — the hint drops, the subquery stays
          primaryParen()
        case TWord(w) if w.equalsIgnoreCase("NOT") => s"(NOT ${expr(25)})"
        case TOp("(") => i -= 1; primaryParen()
        case TOp("[") => arrayLiteral()
        case TOp("{") => structLiteral()
        case TOp("*") => starPrimary()
        case TStr(s) if Set("FROM", "JOIN", "LATERAL")(lastGlue) &&
            """(?i).*\.(parquet|csv|csv\.gz|tsv|json|jsonl|ndjson|orc)'$""".r
              .findFirstIn(s).isDefined =>
          // file-literal table ref (`FROM 'data.parquet'`): the
          // reference resolves it via replacement scans; Spark's
          // datasource-literal form is format.`path`
          val path = s.stripPrefix("'").stripSuffix("'")
          val fmt = path.toLowerCase.replaceAll("\\.gz$", "") match {
            case p if p.endsWith(".parquet") => "parquet"
            case p if p.endsWith(".orc") => "orc"
            case p if p.endsWith(".csv") || p.endsWith(".tsv") => "csv"
            case _ => "json"
          }
          s"$fmt.`$path`"
        case TStr(s) => emitStr(s)
        case TNum(s) => numLiteral(s)
        case TQuoted(s) => quoteIdent(s)
        case TWord(w) => wordPrimary(w)
        case other => other.text
      }
      postfix(base)
    }

    /** JSON `->`/`->>` path operand → a get_json_object '$'-path:
      * '$…' passes through, a bare key becomes '$.key', an integer
      * becomes the '$[n]' array index (json extension operators).
      */
    /** `s GLOB pattern` (reference glob operator, like.cpp Glob):
      * `*`/`?` wildcards, `[class]`/`[!class]` (a `]` in first
      * position is literal), backslash escapes. A LITERAL pattern
      * compiles to an anchored RLIKE regex at translate time; Spark
      * has no runtime glob matcher, so non-literal patterns pass
      * through (and error loudly). */
    private def globRegex(raw: String): Option[String] = {
      val sb = new StringBuilder
      var i = 0
      def lit(c: Char): Unit =
        if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) { sb += '\\'; sb += c }
        else sb += c
      while (i < raw.length) {
        raw.charAt(i) match {
          case '*' => sb ++= ".*"; i += 1
          case '?' => sb += '.'; i += 1
          case '\\' =>
            if (i + 1 >= raw.length) return None
            lit(raw.charAt(i + 1)); i += 2
          case '[' =>
            val cls = new StringBuilder
            var j = i + 1
            var neg = false
            if (j < raw.length && raw.charAt(j) == '!') { neg = true; j += 1 }
            var first = true
            var closed = false
            while (j < raw.length && !closed) {
              val c = raw.charAt(j)
              if (c == ']' && !first) closed = true
              else {
                if ("\\^]&".indexOf(c) >= 0) { cls += '\\'; cls += c }
                else cls += c // '-' kept: ranges
                first = false
                j += 1
              }
            }
            if (!closed || cls.isEmpty) return None
            sb += '['; if (neg) sb += '^'; sb ++= cls.toString(); sb += ']'
            i = j + 1
          case c => lit(c); i += 1
        }
      }
      Some("^" + sb.toString + "$")
    }

    private def globEmit(left: String, r: String, negate: Boolean): String = {
      // a literal without quotes inside; undo emitStr's backslash
      // doubling to recover the raw bytes
      val raw = SqlText.decode(r).filterNot(_.contains("'"))
        .map(_.replace("\\\\", "\\"))
      raw.flatMap(globRegex) match {
        case Some(re) =>
          val cond = s"($left RLIKE '${emitStr(re)}')"
          if (negate) s"(NOT $cond)" else cond
        case None =>
          // non-literal (or malformed-literal) pattern: the reference
          // evaluates glob per row — runtime kernel (DuckNames
          // .GlobMatch; malformed patterns match nothing, pinned)
          if (negate) s"(NOT graft_glob($left, $r))" else s"graft_glob($left, $r)"
      }
    }

    /** LIKE/ILIKE emission with the reference's ESCAPE edges: a NULL
      * escape makes the whole predicate NULL; an EMPTY escape means
      * no escaping (both pinned vs DuckDB in DialectCornersSpec). */
    private def likeEmit(left: String, kw: String, r: String,
        esc: Option[String], negate: Boolean): String = {
      val not = if (negate) "NOT " else ""
      esc match {
        case None => s"($left $not$kw $r)"
        case Some(x) if x.trim.equalsIgnoreCase("NULL") => "CAST(NULL AS BOOLEAN)"
        case Some("''") => s"($left $not$kw $r)"
        case Some(x) => s"($left $not$kw $r ESCAPE $x)"
      }
    }

    /** `agg(x) EXPORT_STATE` → a mergeable struct state
      * (k: kind, c: count component, v: sum/min/max component).
      * Covered aggregates: count/count(*)/sum/avg/min/max — the
      * reference's own test surface; anything else errors loudly. */
    private def exportState(base: String): String = {
      val m = "^(?is)\\s*(count|sum|avg|min|max)\\s*\\(".r
        .findFirstMatchIn(base)
      val open = base.indexOf('(')
      val close = if (open >= 0) SqlText.matchParen(base, open) else -1
      require(open >= 0 && close == base.trim.length - 1,
        s"EXPORT_STATE: expected a single aggregate call, got: ${base.take(60)}")
      val arg = base.substring(open + 1, close).trim
      m.map(_.group(1).toLowerCase) match {
        case Some("count") =>
          s"named_struct('k', 'count', 'c', CAST($base AS BIGINT), 'v', CAST(NULL AS BIGINT))"
        case Some("sum") =>
          s"named_struct('k', 'sum', 'c', COUNT($arg), 'v', $base)"
        case Some("avg") =>
          s"named_struct('k', 'avg', 'c', COUNT($arg), 'v', SUM($arg))"
        case Some(fn @ ("min" | "max")) =>
          s"named_struct('k', '$fn', 'c', COUNT($arg), 'v', $base)"
        case _ =>
          // any other numeric aggregate (argmin/first/product/corr…):
          // IDENTITY state — FINALIZE returns the finished value, no
          // cross-state COMBINE (the reference corpus only finalizes
          // these inline; combining would need per-aggregate moment
          // states)
          s"named_struct('k', 'identity', 'c', CAST(NULL AS BIGINT), 'v', ($base))"
      }
    }

    /** Literal JSON paths with from-the-end indices — `[-N]` and the
      * reference's `[#-N]` spelling (test_json_extract.test:163-226):
      * get_json_object has no negative indexing, so each such segment
      * resolves through json_array_length at query time. `[-0]`/`[#-0]`
      * is index 0 (the reference's "just like python" rule); an
      * out-of-range or non-array prefix yields NULL in both engines. */
    private val NegJsonIdx = "\\[#?-[0-9]+\\]".r
    private def negJsonChain(base: String, body0: String): String = {
      val body = if (body0.startsWith("$")) body0.substring(1) else body0
      var cur = base
      val sb = new StringBuilder
      val m = java.util.regex.Pattern.compile("\\[#?-([0-9]+)\\]").matcher(body)
      var last = 0
      while (m.find()) {
        sb.append(body.substring(last, m.start))
        val n = m.group(1).toLong
        if (n == 0) sb.append("[0]") // [-0] ≡ [0]
        else {
          val pre = "$" + sb.toString
          cur = s"get_json_object($cur, concat('$pre[', " +
            s"CAST(json_array_length(get_json_object($cur, '$pre')) - $n AS STRING), ']'))"
          sb.setLength(0)
        }
        last = m.end()
      }
      sb.append(body.substring(last))
      if (sb.nonEmpty) s"get_json_object($cur, '$$${sb.toString}')" else cur
    }

    /** `json -> path` / json_extract emission: literal paths carrying
      * negative indices route through [[negJsonChain]]. */
    private def jsonExtractEmit(left: String, r: String): String = {
      val p = jsonPath(r)
      val Lit = "^'(.*)'$".r
      p match {
        case Lit(body) if NegJsonIdx.findFirstIn(body).isDefined =>
          negJsonChain(left, body)
        case _ => s"get_json_object($left, $p)"
      }
    }

    private def jsonPath(r: String): String = {
      val Lit = "^'(.*)'$".r
      r match {
        case Lit(body) if body.startsWith("$") => r
        case Lit(body) if body.matches("-?\\d+") => s"'$$[$body]'"
        case Lit(body) => s"'$$.$body'"
        case n if n.matches("-?\\d+") => s"'$$[$n]'"
        // runtime path expression: normalize per row with the same
        // bare-key/integer/'$'-prefix rules as the literal cases
        // (DuckNames.JsonPathNorm kernel)
        case other => s"graft_json_path($other)"
      }
    }

    /** `x IN <collection>` with a non-paren right side (reference
      * accepts lists and maps as IN targets): list → membership, map
      * → KEY membership (in_search.cpp's map rule).
      */
    private def inCollection(left: String, negate: Boolean): String = {
      val isMap = peekOp("{") || (peek match {
        case TWord(x) => x.equalsIgnoreCase("MAP")
        case _ => false
      })
      val coll = expr(31)
      val test =
        if (isMap) s"array_contains(map_keys($coll), $left)"
        else s"array_contains($coll, $left)"
      if (negate) s"(NOT $test)" else test
    }

    /** `*` in prefix position: plain star or star with EXCLUDE —
      * the paren-free single-column form (`* EXCLUDE i`) is legal in
      * the reference (star_expression.cpp exclude_list).
      */
    private def starPrimary(): String = {
      if (peekWord("EXCLUDE")) {
        next()
        val cols =
          if (peekOp("(")) primaryParen()
          else next() match {
            case TQuoted(s) => s"(${quoteIdent(s)})"
            case t => s"(${t.text})"
          }
        s"* EXCEPT $cols"
      } else "*"
    }

    private def quoteIdent(s: String): String = "`" + s.replace("`", "``") + "`"

    /** True when the upcoming tokens are `( 'a' [, 'b']* )` — a
      * quoted column-alias list rather than a function call's
      * argument list (at least one string, nothing but strings and
      * commas). Current token is the alias word itself. */
    private def strAliasListAhead: Boolean = {
      if (!peekAt(1).contains(TOp("("))) return false
      var idx = 2
      var sawStr = false
      while (true) {
        peekAt(idx) match {
          case Some(TStr(_)) => sawStr = true; idx += 1
          case Some(TOp(",")) => idx += 1
          case Some(TOp(")")) => return sawStr
          case _ => return false
        }
      }
      false
    }

    /** A following `('a', 'b')` column-alias list with string-literal
      * members (`AS 't'('k')`, the reference's quoted alias columns):
      * consume and return as identifiers; "" when absent (r13). */
    private def strColList(): String =
      if (peekOp("(") && peekAt(1).exists(_.isInstanceOf[TStr])) {
        next()
        val cols = ArrayBuffer.empty[String]
        while (more && !peekOp(")")) {
          peek match {
            case TStr(v) =>
              next()
              cols += quoteIdent(SqlText.unquote(v).getOrElse(v))
            case TOp(",") => next()
            case _ => cols += next().text
          }
        }
        expectOp(")")
        cols.mkString("(", ", ", ")")
      } else ""

    /** Reference string literals are RAW ('\d' is backslash-d); Spark
      * processes backslash escapes by default — double them so the
      * bytes survive translation (regex patterns especially).
      */
    private def emitStr(raw: String): String = raw.replace("\\", "\\\\")

    /** `( ... )`: subquery, window spec, or parenthesized
      * expression / row.
      */
    private def primaryParen(): String = {
      // window-spec parens (`WINDOW w AS (PARTITION BY …)`): glue
      // words + exprs, NOT a comma-separated expression list. The
      // leading keyword must actually open a spec — `(range + 1)`
      // with a column named range is an expression (r13)
      if (peekAt(1).exists {
        case TWord(w) =>
          val up = w.toUpperCase
          (Set("PARTITION", "ORDER")(up) && peekAt(2).exists {
            case TWord(x) => x.equalsIgnoreCase("BY"); case _ => false }) ||
          (Set("ROWS", "RANGE", "GROUPS")(up) && peekAt(2).exists {
            case TWord(x) =>
              Set("BETWEEN", "UNBOUNDED", "CURRENT")(x.toUpperCase)
            case TNum(_) => true
            case _ => false })
        case _ => false
      }) return clauseParen()
      // parenthesized JOIN tree as a relation (`FROM (a NATURAL JOIN
      // b) JOIN …`): a depth-1 JOIN keyword means this is clause
      // structure, not an expression list
      if (hasTopLevelJoin) return clauseParen()
      expectOp("(")
      val isQuery = more && (peek match {
        case TWord(w) => Set("SELECT", "WITH", "FROM", "VALUES", "TABLE")(w.toUpperCase)
        case _ => false
      })
      if (isQuery) {
        val inner = statement()
        expectOp(")")
        s"($inner)"
      } else {
        val parts = ArrayBuffer.empty[String]
        while (more && !peekOp(")")) {
          parts += expr(0)
          // parenthesized set-operation chain as a relation/scalar:
          // `((q1) EXCEPT (q2) EXCEPT (q3)) alias` — the set-op words
          // are clause structure joining the parts, not new list items
          while (more && (peekWord("UNION") || peekWord("EXCEPT") ||
              peekWord("INTERSECT"))) {
            val op = next().text.toUpperCase
            val mod =
              if (peekWord("ALL") || peekWord("DISTINCT"))
                " " + next().text.toUpperCase
              else ""
            val byName =
              if (op == "UNION" && peekWord("BY") &&
                  peekAt(1).exists(_.text.equalsIgnoreCase("NAME"))) {
                next(); next(); " BY NAME"
              } else ""
            // the RHS may be a BARE statement (`(q1) INTERSECT ALL
            // select * from t u(x)`) — a statement parse, not an
            // expression-list item
            val rhs = peek match {
              case TWord(w) if Set("SELECT", "WITH", "FROM", "VALUES",
                  "TABLE")(w.toUpperCase) =>
                s"(${statement()})"
              case _ => expr(0)
            }
            parts(parts.length - 1) = parts.last + s" $op$mod$byName $rhs"
          }
          if (peekOp(",")) next()
        }
        expectOp(")")
        s"(${parts.mkString(", ")})"
      }
    }

    private def arrayLiteral(): String = {
      val parts = ArrayBuffer.empty[String]
      while (more && !peekOp("]")) {
        parts += expr(0)
        if (peekOp(",")) next()
      }
      expectOp("]")
      s"array(${parts.mkString(", ")})"
    }

    /** `{'k': v, ...}` → named_struct('k', v, ...). */
    private def structLiteral(): String = {
      val parts = ArrayBuffer.empty[String]
      while (more && !peekOp("}")) {
        val key = next() match {
          case TStr(s) => s
          case TWord(w) => s"'$w'"
          case TQuoted(s) => s"'$s'"
          case other => other.text
        }
        expectOp(":")
        val v = expr(0)
        parts += key; parts += v
        if (peekOp(",")) next()
      }
      expectOp("}")
      s"named_struct(${parts.mkString(", ")})"
    }

    /** `MAP {'k': v, ...}` → map('k', v, ...). */
    private def mapLiteral(): String = {
      expectOp("{")
      val parts = ArrayBuffer.empty[String]
      while (more && !peekOp("}")) {
        val key = expr(0)
        expectOp(":")
        val v = expr(0)
        parts += key; parts += v
        if (peekOp(",")) next()
      }
      expectOp("}")
      s"map(${parts.mkString(", ")})"
    }

    private def wordPrimary(w: String): String = {
      val up = w.toUpperCase
      up match {
        case "CAST" | "TRY_CAST" if peekOp("(") => castCall(up)
        // postgres-spelling array constructor `ARRAY[1, 2, 3]` (the
        // reference accepts both it and the bare `[...]` literal)
        case "ARRAY" if peekOp("[") => next(); arrayLiteral()
        // ARRAY(subquery) — the reference's array-from-subquery
        // constructor; Spark has no equivalent form, so it compiles
        // to a collect_list scalar subquery (single-column contract,
        // same as the reference's binder)
        case "ARRAY" if peekOp("(") && peekAt(1).exists {
          case TWord(x) => Set("SELECT", "WITH", "FROM")(x.toUpperCase)
          case _ => false
        } =>
          val sub = primaryParen()
          s"(SELECT collect_list(__ac) FROM $sub AS __arr_t(__ac))"
        // CTE materialization hints: `AS [NOT] MATERIALIZED (query)`
        // — planner hints the translation drops (Spark decides reuse)
        case "MATERIALIZED" if peekOp("(") => primaryParen()
        // ANSI `POSITION(needle IN haystack)` — the inner IN is the
        // two-argument separator, not containment
        case "JSON_EXTRACT" | "JSON_EXTRACT_STRING" | "JSON_EXTRACT_PATH" |
             "JSON_EXTRACT_PATH_TEXT" if peekOp("(") =>
          // literal paths with negative indices route through the
          // [-N]/[#-N] chain; everything else keeps the registered
          // name (FunctionTable → get_json_object)
          expectOp("(")
          val args = ArrayBuffer.empty[String]
          while (more && !peekOp(")")) {
            args += expr(0)
            if (peekOp(",")) next()
          }
          expectOp(")")
          if (args.length == 2 && args(1).matches("(?s)^'.*'$") &&
              NegJsonIdx.findFirstIn(args(1)).isDefined)
            jsonExtractEmit(args(0), args(1))
          else if (args.length == 2 && !args(1).trim.startsWith("array("))
            // same emission as the `->` operator (the repo's existing
            // json_extract_string ≡ get_json_object precedent)
            s"get_json_object(${args(0)}, ${jsonPath(args(1))})"
          else s"${w.toLowerCase}(${args.mkString(", ")})"
        case "FINALIZE" if peekOp("(") =>
          // FINALIZE(state): evaluate an exported aggregate state
          // (DOUBLE-typed result for the numeric aggregates covered;
          // NULL state → NULL, matching the reference's left-join
          // behavior in test_state_export.test)
          expectOp("(")
          val a = expr(0)
          expectOp(")")
          val idPre = "named_struct('k', 'identity', 'c', CAST(NULL AS BIGINT), 'v', "
          val at = a.trim
          if (at.startsWith(idPre) && at.endsWith(")"))
            // inline identity state: unwrap textually — type-exact
            // (string aggregates survive; the generic CASE is
            // DOUBLE-typed)
            at.substring(idPre.length, at.length - 1)
          else "'k', '([a-z]+)'".r.findFirstMatchIn(at).map(_.group(1)) match {
            // states are emitted inline by THIS parser (named_struct
            // with a literal kind tag — also the first tag inside a
            // COMBINE emission), so resolve the dispatch at translate
            // time and keep the aggregate's NATIVE type: the
            // reference's finalize returns the aggregate's own type,
            // and CAST(v AS DOUBLE) is off by ulps for BIGINT sums
            // past 2^53. Only avg genuinely divides through DOUBLE.
            case Some("count") => s"($a).c"
            case Some("avg") => s"CAST(($a).v AS DOUBLE) / ($a).c"
            case Some("sum") | Some("min") | Some("max") |
                 Some("identity") => s"($a).v"
            case _ =>
              // state from a column/opaque expression: generic
              // DOUBLE-typed dispatch (documented approximation)
              s"(CASE WHEN ($a).k = 'count' THEN CAST(($a).c AS DOUBLE) " +
                s"WHEN ($a).k = 'avg' THEN CAST(($a).v AS DOUBLE) / ($a).c " +
                s"ELSE CAST(($a).v AS DOUBLE) END)"
          }
        case "ROW" if peekOp("(") =>
          // ROW(a, b, …) — the SQL-standard anonymous-struct
          // constructor (the reference's row() = struct_pack
          // positional form); Spark's struct() names fields col1…
          // and a following ::STRUCT(a T, b U) cast renames
          // positionally on both engines
          "struct" + primaryParen()
        case "COMBINE" if peekOp("(") =>
          // COMBINE(a, b): merge two states of the same aggregate;
          // NULL acts as the empty state (COMBINE(NULL, x) = x)
          expectOp("(")
          val a = expr(0)
          if (peekOp(",")) next()
          val b = expr(0)
          expectOp(")")
          s"(CASE WHEN ($a) IS NULL THEN ($b) WHEN ($b) IS NULL THEN ($a) " +
            s"ELSE named_struct('k', ($a).k, 'c', ($a).c + ($b).c, 'v', " +
            s"CASE WHEN ($a).k = 'min' THEN least(($a).v, ($b).v) " +
            s"WHEN ($a).k = 'max' THEN greatest(($a).v, ($b).v) " +
            s"WHEN ($a).v IS NULL THEN ($b).v WHEN ($b).v IS NULL THEN ($a).v " +
            s"ELSE ($a).v + ($b).v END) END)"
        case "POSITION" if peekOp("(") =>
          expectOp("(")
          val a = expr(31)
          if (peekWord("IN")) {
            next(); val b = expr(0); expectOp(")")
            s"position($a, $b)"
          } else {
            val parts = ArrayBuffer(a)
            while (peekOp(",")) { next(); parts += expr(0) }
            expectOp(")")
            s"position(${parts.mkString(", ")})"
          }
        case "CASE" => caseExpr()
        case "INTERVAL" => intervalLiteral()
        case "MAP" if peekOp("{") => mapLiteral()
        case "EXISTS" if peekOp("(") => "EXISTS " + primaryParen()
        case "DATE" | "TIMESTAMP" if more && peek.isInstanceOf[TStr] =>
          // the reference's literal parser trims/collapses whitespace
          // and accepts a trailing UTC zone name (the session zone
          // here, so it drops as identity) — Spark's typed-literal
          // parser accepts neither
          val lit0 = next().text
          val lit = "'" + lit0.stripPrefix("'").stripSuffix("'").trim
            .replaceAll("\\s+", " ")
            .replaceAll("(?i)\\s+(utc|z)$", "") + "'"
          val isDate = w.equalsIgnoreCase("DATE")
          lit.stripPrefix("'").stripSuffix("'").toLowerCase match {
            // the reference's infinity sentinels ARE the extreme
            // representable values (date_t/timestamp_t::[n]infinity =
            // ±INT32/INT64_MAX) — same ordering under Spark's int
            // days / int64 micros; rendering diverges ('infinity' vs
            // the extreme date), comparisons do not
            case "infinity" =>
              if (isDate) "date_from_unix_date(2147483647)"
              else "timestamp_micros(9223372036854775807L)"
            case "-infinity" =>
              if (isDate) "date_from_unix_date(-2147483647)"
              else "timestamp_micros(-9223372036854775807L)"
            case "epoch" =>
              if (isDate) "date_from_unix_date(0)" else "timestamp_micros(0L)"
            case _ =>
              bigTemporal(lit, isDate).getOrElse(s"$w $lit")
          }
        // TIMESTAMPTZ ≡ the session-zone instant type (Spark TIMESTAMP)
        case "TIMESTAMPTZ" if more && peek.isInstanceOf[TStr] =>
          s"TIMESTAMP ${next().text}"
        case "TIMETZ" if more && peek.isInstanceOf[TStr] => next().text
        // no TIME type in Spark (parses, unsupported): TIME literals
        // carry as their string form, matching the TIME→STRING type map
        case "TIME" if more && peek.isInstanceOf[TStr] =>
          if (nativeTime) s"TIME ${next().text}" else next().text
        // JSON 'literal' — the JSON type maps to STRING, the literal
        // is just its text
        case "JSON" if more && peek.isInstanceOf[TStr] => next().text
        // BLOB 'literal' — bytes are the literal's chars with \xNN
        // escapes (reference blob.cpp); Spark's binary literal is hex
        case "BLOB" if more && peek.isInstanceOf[TStr] =>
          val raw = next().text.stripPrefix("'").stripSuffix("'")
          val bytes = new StringBuilder
          var bi = 0
          while (bi < raw.length) {
            if (raw.charAt(bi) == '\\' && bi + 3 < raw.length &&
                (raw.charAt(bi + 1) == 'x' || raw.charAt(bi + 1) == 'X')) {
              bytes.append(raw.substring(bi + 2, bi + 4))
              bi += 4
            } else {
              bytes.append(f"${raw.charAt(bi).toInt & 0xff}%02x")
              bi += 1
            }
          }
          s"X'${bytes.toString.toUpperCase}'"
        case "NULL" | "TRUE" | "FALSE" => w
        case "STRUCT_PACK" | "STRUCT_INSERT" | "UNION_VALUE" if peekOp("(") =>
          namedArgCall(w.toLowerCase, None)
        case _ =>
          // identifier chain: a.b."c".d / t.* — then optional call
          var chain = w
          var starEnd = false
          val tableCtx0 = Set("FROM", "JOIN", "LATERAL")(lastGlue)
          while (!starEnd && peekOp(".") && peekAt(1).exists {
            case TWord(_) | TQuoted(_) | TOp("*") => true; case _ => false
          }) {
            // expression-position `x.f(args)` is the reference's
            // function-chaining sugar for f(x, args) (dot operator,
            // bind_expression): rewrite unless this is a FROM-position
            // qualified table function (schema.fn(…)) or the left
            // segment names a known schema/catalog — `main.my_macro(1)`
            // is a schema-qualified call, NOT chaining (r7 ADVICE);
            // the reference resolves it in the schema, so strip the
            // default-catalog qualifier and emit the plain call
            val schemaQualified = chain == w && KnownSchemas(w.toLowerCase)
            if (!tableCtx0 && (peekAt(1) match {
              case Some(TWord(_)) => peekAt(2).contains(TOp("("))
              case _ => false
            })) {
              next() // '.'
              val m = next().text
              expectOp("(")
              val args = ArrayBuffer.empty[String]
              while (more && !peekOp(")")) {
                args += expr(0)
                if (peekOp(",")) next()
              }
              expectOp(")")
              chain = chainCall(m, if (schemaQualified) args.toSeq else chain +: args.toSeq)
            } else {
              next()
              next() match {
                case TWord(x) => chain += s".$x"
                case TQuoted(x) => chain += s".${quoteIdent(x)}"
                case TOp("*") => chain += ".*"; starEnd = true
                case other => chain += s".${other.text}"
              }
            }
          }
          if (starEnd && peekWord("EXCLUDE")) {
            // qualified star with EXCLUDE: `a.* EXCLUDE (j)` (also
            // the paren-free single-column form)
            next()
            val cols =
              if (peekOp("(")) primaryParen()
              else next() match {
                case TQuoted(s) => s"(${quoteIdent(s)})"
                case t => s"(${t.text})"
              }
            s"$chain EXCEPT $cols"
          }
          else if (!starEnd && peekOp("(")) call(chain) else chain
      }
    }

    /** A call whose DuckDB meaning differs from the Spark built-in of
      * the same name, spelled in Spark terms: the reference's 2-arg
      * regexp_extract/_all return the FULL match (group 0; Spark's
      * default group is 1), its dayname/monthname spell full names
      * (Spark's abbreviate: Mon, Jan), its scalar date parts and
      * cardinality(map) are BIGINT (Spark's are int; cardinality is
      * UBIGINT there) and its day of week is 0 on a Sunday (Spark's
      * is 1).
      */
    private def duckMeaning(name: String, args: Seq[String]): Option[String] =
      (name.toLowerCase, args) match {
        case ("regexp_extract" | "regexp_extract_all", Seq(s, re)) => Some(s"$name($s, $re, 0)")
        case ("dayname", Seq(d)) => Some(s"date_format(CAST($d AS TIMESTAMP), 'EEEE')")
        case ("monthname", Seq(d)) => Some(s"date_format(CAST($d AS TIMESTAMP), 'MMMM')")
        case ("dayofweek", Seq(d)) => Some(s"CAST(dayofweek($d) - 1 AS BIGINT)")
        case ("cardinality", Seq(m)) => Some(s"CAST(cardinality($m) AS BIGINT)")
        case (f, Seq(d)) if bigintPartFns(f) => Some(s"CAST($name($d) AS BIGINT)")
        case ("extract", Seq(unit, "FROM", d)) => datePart(unit, s"EXTRACT($unit FROM $d)")
        case ("date_part" | "datepart", Seq(unit, d)) =>
          datePart(unit.stripPrefix("'").stripSuffix("'"), s"$name($unit, $d)")
        case _ => None
      }

    private val bigintPartFns = Set("year", "quarter", "month", "week", "weekofyear", "day",
      "dayofmonth", "dayofyear", "hour", "minute")

    /** `part` (the Spark spelling of a date part `unit`) in DuckDB's
      * type and numbering, or None where Spark's already agree.
      */
    private def datePart(unit: String, part: String): Option[String] = unit.toLowerCase match {
      case "dow" | "dayofweek" => Some(s"CAST($part - 1 AS BIGINT)")
      case "y" | "yr" | "yrs" | "year" | "years" | "quarter" | "qtr" | "mon" | "mons" |
           "month" | "months" | "w" | "week" | "weeks" | "d" | "day" | "days" | "doy" |
           "h" | "hour" | "hours" | "min" | "mins" | "minute" | "minutes" =>
        Some(s"CAST($part AS BIGINT)")
      case _ => None
    }

    /** `f(args)` after the dot-chaining sugar `x.f(args)`. */
    private def chainCall(name: String, args: Seq[String]): String =
      duckMeaning(name, args).getOrElse(s"$name(${args.mkString(", ")})")

    private def call(fname0: String): String = {
      // Set-returning functions: unnest ≡ explode in BOTH positions
      // (Spark's explode is a generator in SELECT and a table
      // function in FROM); generate_series is Spark's scalar
      // sequence() (inclusive stop, same as the reference) wrapped in
      // explode() when it stands in table position (FROM/JOIN/
      // LATERAL). The context flag is cleared while parsing args so
      // nested calls translate as expressions.
      val tableCtx = Set("FROM", "JOIN", "LATERAL")(lastGlue)
      val savedGlue = lastGlue
      lastGlue = ""
      val low = fname0.toLowerCase
      val fname = low match {
        case "unnest" => "explode"
        case "generate_series" => "sequence"
        case _ => fname0
      }
      // date_diff('part', a, b): Spark's parser intercepts the name
      // and rejects quoted units BEFORE function resolution, so the
      // registry can't shim the original spelling — rewrite to the
      // duck_date_diff alias (FunctionTable), which implements the
      // reference's T-SQL period-CROSSING counting (date_diff.cpp).
      if ((low == "date_diff" || low == "datediff") && peekOp("(")
          && peekAt(1).exists(_.isInstanceOf[TStr])) {
        next() // (
        val unit = next().text.stripPrefix("'").stripSuffix("'").toUpperCase
        if (peekOp(",")) next()
        val a = expr(0)
        if (peekOp(",")) next()
        val b = expr(0)
        expectOp(")")
        lastGlue = savedGlue
        return s"duck_date_diff('$unit', $a, $b)"
      }
      // extract('part' FROM x): the QUOTED part is legal in the
      // reference; Spark's EXTRACT grammar wants a bare field and
      // errors before resolution (and the grammar form can't appear
      // inside lambdas) — rewrite to date_part('part', x) (r13)
      if (low == "extract" && peekOp("(") &&
          peekAt(1).exists(_.isInstanceOf[TStr]) &&
          peekAt(2).exists {
            case TWord(x) => x.equalsIgnoreCase("FROM"); case _ => false }) {
        next() // (
        val part = next().text
        next() // FROM
        val src = expr(0)
        expectOp(")")
        lastGlue = savedGlue
        return duckMeaning("date_part", Seq(part, src)).getOrElse(s"date_part($part, $src)")
      }
      expectOp("(")
      val parts = ArrayBuffer.empty[String]
      // DuckDB allows ORDER BY and IGNORE/RESPECT NULLS INSIDE the
      // call parens; Spark spells them after the `)` (WITHIN GROUP /
      // suffix) — collect them separately and re-attach below
      val inlineOrder = ArrayBuffer.empty[String]
      var nullsSuffix = ""
      var first = true
      while (more && !peekOp(")")) {
        peek match {
          case TWord(kw) if first && kw.equalsIgnoreCase("DISTINCT") =>
            next(); parts += "DISTINCT"
          case TWord(kw) if Set("SELECT", "WITH")(kw.toUpperCase) && first =>
            // scalar subquery in call position: EXISTS handled upstream
            parts += statement()
          case TWord(kw) if kw.equalsIgnoreCase("ORDER") =>
            next(); require(peekWord("BY"), "duck-dialect: ORDER without BY"); next()
            def mods(): Unit = {
              while (peekWord("ASC") || peekWord("DESC")) inlineOrder += next().text
              if (peekWord("NULLS")) {
                next(); inlineOrder += ("NULLS_" + next().text.toUpperCase)
              }
            }
            inlineOrder += expr(0)
            mods()
            while (peekOp(",")) {
              next(); inlineOrder += ","; inlineOrder += expr(0)
              mods()
            }
          case TWord(kw) if (kw.equalsIgnoreCase("IGNORE") || kw.equalsIgnoreCase("RESPECT"))
            && peekAt(1).exists {
              case TWord(x) => x.equalsIgnoreCase("NULLS"); case _ => false
            } =>
            next(); next(); nullsSuffix = s" ${kw.toUpperCase} NULLS"
          case TWord(kw) if Set("FROM", "FOR", "PLACING")(kw.toUpperCase) =>
            // EXTRACT(h FROM x) / SUBSTRING(s FROM a FOR b) / OVERLAY:
            // keyword separators inside call args — emit as glue so a
            // following '(' never reads as a call named FROM
            next(); parts += kw.toUpperCase
          case TWord(kw) if kw.equalsIgnoreCase("EXPORT_STATE") =>
            // aggregate-state modifier (export_aggregate_function):
            // state stays engine-internal; finalize() is identity, so
            // the modifier drops
            next()
          case TOp("*") if first => next(); parts += starPrimary()
          case TOp(",") => next(); parts += ","
          case TWord(k) if peekAt(1).exists(t => t == TOp(":=") || t == TOp("=>")) =>
            // generic named argument: the reference spells `k := v`,
            // Spark spells `k => v` — functions that don't take named
            // args fail at analysis, not with parser garbage
            next(); next()
            parts += s"$k => ${expr(0)}"
          case _ =>
            val e = expr(0)
            parts += e
        }
        first = false
      }
      expectOp(")")
      lastGlue = savedGlue
      var out = s"$fname(${renderArgs(parts.toSeq)})$nullsSuffix"
      // a CALL named map is the reference's map(key_list, value_list)
      // constructor (the variadic pair form is only ever generated
      // here from MAP literals) → Spark's map_from_arrays
      if (low == "map" && parts.count(_ == ",") == 1)
        out = s"map_from_arrays(${renderArgs(parts.toSeq)})"
      val args0 = parts.filterNot(_ == ",")
      // regexp_extract(s, re, ['a','b']) — the reference's NAMED
      // capture-group form returns a struct of the groups
      // (regex_capture.test); Spark's third arg is an index, so emit
      // named_struct of per-index extracts
      if (low == "regexp_extract" && args0.length == 3 && args0(2).trim.startsWith("array(")) {
        val names = "'([^']*)'".r.findAllMatchIn(args0(2)).map(_.group(1)).toSeq
        if (names.nonEmpty) {
          val fields = names.zipWithIndex.map { case (nm, i) =>
            s"'$nm', regexp_extract(${args0(0)}, ${args0(1)}, ${i + 1})"
          }
          out = s"named_struct(${fields.mkString(", ")})"
        }
      }
      duckMeaning(fname, args0.toSeq).foreach(out = _)
      // unnest(x, recursive := true): one structural level collapses
      // per flatten — the reference's recursive flag for
      // list-of-list inputs (transform of unnest's named parameter)
      if (low == "unnest" &&
          parts.exists(_.toLowerCase.startsWith("recursive =>"))) {
        val pos = parts.filterNot(p => p == "," ||
          p.toLowerCase.startsWith("recursive =>") ||
          p.toLowerCase.startsWith("max_depth =>"))
        out = s"explode(flatten(${pos.mkString(", ")}))"
      }
      // inline ORDER BY on an order-INSENSITIVE aggregate is a no-op
      // (sum/count/min/max are multiset functions; for mode/arg_max
      // the reference's ORDER BY only pins tie-breaks, which this
      // engine's kernels already make deterministic) — drop it
      // instead of emitting syntax Spark rejects
      val ORDER_NOOP = Set("sum", "count", "avg", "mean", "min", "max",
        "median", "mode", "product", "entropy", "kurtosis", "skewness",
        "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
        "variance", "bool_and", "bool_or", "bit_and", "bit_or", "bit_xor",
        "arg_max", "arg_min", "argmax", "argmin", "max_by", "min_by",
        "kahan_sum", "fsum", "sumkahan", "favg", "mad",
        "approx_count_distinct", "bitstring_agg")
      if (inlineOrder.nonEmpty && !ORDER_NOOP(low)) {
        val ob = inlineOrder.filterNot(_ == ",")
          .map(t => if (t.startsWith("NULLS_")) t.replace('_', ' ') else t)
          .mkString(", ")
        out =
          if (low == "string_agg" || low == "listagg" || low == "group_concat")
            // inline ORDER BY in string_agg → listagg WITHIN GROUP
            s"listagg(${renderArgs(parts.toSeq)}) WITHIN GROUP (ORDER BY $ob)"
          else if ((low == "array_agg" || low == "list") &&
              parts.filterNot(_ == ",").mkString(", ") == ob)
            // ordered array_agg ≡ sort the collected list — but ONLY
            // when the sort key IS the collected expression; any
            // other key falls through to the general struct-sort form
            s"array_sort($fname(${renderArgs(parts.toSeq)}))"
          else if ((low == "array_agg" || low == "list") &&
              parts.headOption.contains("DISTINCT") && {
                val v = parts.filterNot(p => p == "," || p == "DISTINCT").mkString(", ")
                // ob joins the flat order-token buffer with ", "
                // so a direction keyword arrives as ", DESC"
                ob == v || ob == s"$v, DESC" || ob == s"$v, ASC"
              }) {
            // list(DISTINCT x ORDER BY x [DESC]): sorted distinct list
            val v = parts.filterNot(p => p == "," || p == "DISTINCT").mkString(", ")
            val sorted = s"array_sort(collect_set($v))"
            if (ob.endsWith(", DESC")) s"reverse($sorted)" else sorted
          }
          else {
            // (key, desc, nullsFirst) triples from the flat buffer;
            // the reference's default null order is NULLS LAST
            val keys = ArrayBuffer.empty[(String, Boolean, Boolean)]
            inlineOrder.foreach {
              case "," =>
              case d if d.equalsIgnoreCase("DESC") =>
                val (k, _, nf) = keys.remove(keys.length - 1); keys += ((k, true, nf))
              case d if d.equalsIgnoreCase("ASC") =>
              case d if d.equalsIgnoreCase("NULLS_FIRST") =>
                val (k, dd, _) = keys.remove(keys.length - 1); keys += ((k, dd, true))
              case d if d.equalsIgnoreCase("NULLS_LAST") =>
              case k => keys += ((k, false, false))
            }
            val single = !parts.contains(",") && !parts.contains("DISTINCT")
            // sorted value list: collect (keys…, value) structs, sort
            // with a comparator honoring direction + null placement,
            // project the value back out (aggregate ORDER BY modifier)
            def sortedList(v: String): String = {
              val fields = keys.zipWithIndex
                .map { case ((k, _, _), i) => s"($k) AS __o$i" }.mkString(", ")
              val cmp = keys.zipWithIndex.map { case ((_, desc, nf), i) =>
                val (lt, gt) = if (desc) ("1", "-1") else ("-1", "1")
                val (ln, rn) = if (nf) ("-1", "1") else ("1", "-1")
                s"WHEN l.__o$i IS NULL AND r.__o$i IS NOT NULL THEN $ln " +
                  s"WHEN r.__o$i IS NULL AND l.__o$i IS NOT NULL THEN $rn " +
                  s"WHEN l.__o$i < r.__o$i THEN $lt WHEN l.__o$i > r.__o$i THEN $gt"
              }.mkString(" ")
              s"transform(array_sort(array_agg(struct($fields, ($v) AS __v)), " +
                s"(l, r) -> CASE $cmp ELSE 0 END), s -> s.__v)"
            }
            val isFirstLast = Set("first", "last", "arbitrary", "any_value")(low)
            // DISTINCT is immaterial for an edge pick over a sorted
            // multiset (first of sorted distinct = first of sorted) —
            // strip it so first(DISTINCT a ORDER BY a) takes the
            // min_by path
            val partsFL: scala.collection.immutable.Seq[String] =
              (if (isFirstLast) parts.filterNot(_ == "DISTINCT") else parts).toList
            val singleFL = !partsFL.contains(",")
            if ((low == "array_agg" || low == "list") && single && keys.nonEmpty)
              sortedList(renderArgs(parts.toSeq))
            else if (isFirstLast && singleFL && keys.length == 1 &&
                !keys.exists(_._3)) {
              // fast path: single key, default null order — min_by
              // skips NULL keys, which IS "NULLS LAST" for an edge pick
              val v = renderArgs(partsFL)
              val (k, desc, _) = keys.head
              val fn =
                if ((low == "last") != desc) "max_by" else "min_by"
              s"$fn($v, $k)"
            } else if (isFirstLast && singleFL && keys.nonEmpty) {
              // multi-key / explicit NULLS placement: edge of the
              // sorted list
              val pos = if (low == "last") "-1" else "1"
              s"element_at(${sortedList(renderArgs(partsFL))}, $pos)"
            } else if (Set("quantile_cont", "quantile_disc", "quantile")(low) &&
                keys.nonEmpty && parts.count(_ == ",") == 1 &&
                !parts.contains("DISTINCT")) {
              // ordered-set quantile (quantile.cpp ORDER BY modifier,
              // test_quantile_cont.test:138): POSITIONAL interpolation
              // over the caller-given order — collect (keys, value)
              // sorted, reduce without re-sorting (pinned:
              // quantile_cont(x, 0.8 ORDER BY x DESC) over {1,2} = 1.2)
              val args = parts.filterNot(_ == ",")
              val kfn =
                if (low == "quantile_cont") "quantile_cont_pre"
                else "quantile_disc_pre"
              s"graft_frame_agg(${sortedList(args(0))}, '$kfn', CAST(${args(1)} AS DOUBLE))"
            } else s"$fname(${renderArgs(parts.toSeq)} ORDER BY $ob)"
          }
      }
      if (low == "generate_series" && tableCtx) out = s"explode($out)"
      // trailing call clauses: FILTER (WHERE ...) / OVER (...) /
      // WITHIN GROUP (ORDER BY ...) / IGNORE NULLS
      var going = true
      var filterPred = "" // FILTER (WHERE p) text, for the OVER branch
      while (going && more) {
        if (peekWord("FILTER")) {
          next()
          val cl = clauseParen()
          filterPred = cl.stripPrefix("(").stripSuffix(")").trim
            .replaceAll("(?is)^WHERE\\s+", "")
          // an ordered-aggregate REWRITE may have nested the real
          // aggregate inside array_sort/reverse — Spark only allows
          // FILTER directly on an aggregate, so fold the predicate
          // into the collected value instead (collect_set never keeps
          // NULLs, so a CASE guard is exactly the filter)
          val csIdx = out.indexOf("collect_set(")
          if (csIdx >= 0 && !out.toLowerCase.startsWith(low + "(")) {
            val open = csIdx + "collect_set".length
            val close = SqlText.matchParen(out, open)
            val arg = out.substring(open + 1, close)
            out = out.substring(0, open + 1) +
              s"CASE WHEN $filterPred THEN ($arg) END" + out.substring(close)
          } else
            // re-spell with WHERE: the reference allows bare
            // `FILTER (pred)` (issue3105 corpus); Spark requires it
            out += s" FILTER (WHERE $filterPred)"
        }
        else if (peekWord("OVER")) {
          next()
          val spec = if (peekOp("(")) clauseParen() else next().text // inline / named
          val isDistinct = parts.headOption.contains("DISTINCT")
          val bare = renderArgs(parts.drop(1).toSeq)
          // Spark rejects FILTER on window aggregates — fold the
          // predicate into the argument (SUM/AVG/MIN/MAX skip NULLs;
          // COUNT(*) becomes COUNT of a guarded constant)
          if (filterPred.nonEmpty) {
            val args0 = renderArgs(parts.toSeq)
            val folded =
              if (args0.trim == "*") s"(CASE WHEN $filterPred THEN 1 END)"
              else s"(CASE WHEN $filterPred THEN ($args0) END)"
            out = s"$fname($folded)"
          }
          // Spark has no DISTINCT window aggregates; the reference
          // does. count → exact via the frame's value set; sum →
          // fold of the set in DOUBLE (documented: exact only within
          // 2^53, like any double sum). Other distinct window aggs
          // stay unsupported (analysis error).
          out =
            if (isDistinct && low == "count")
              s"CAST(size(collect_set($bare) OVER $spec) AS BIGINT)"
            else if (isDistinct && low == "sum")
              s"aggregate(collect_set($bare) OVER $spec, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE))"
            else s"$out OVER $spec"
        }
        else if (peekWord("WITHIN")) {
          next(); require(peekWord("GROUP"), "duck-dialect: WITHIN without GROUP"); next()
          out += " WITHIN GROUP " + clauseParen()
        }
        else if (peekWord("IGNORE") || peekWord("RESPECT")) {
          val x = next().text; val y = next().text; out += s" $x $y"
        }
        else going = false
      }
      out
    }

    private def renderArgs(parts: Seq[String]): String = {
      // parts contain "," markers from the loop; join faithfully
      val sb = new StringBuilder
      var prevComma = true
      parts.foreach { p =>
        if (p == ",") { sb.append(", "); prevComma = true }
        else { if (!prevComma && sb.nonEmpty) sb.append(" "); sb.append(p); prevComma = false }
      }
      sb.toString
    }

    /** Window/filter clause: glue words + exprs inside parens. */
    /** cursor on '(' — is there a JOIN keyword at paren depth 1? */
    private def hasTopLevelJoin: Boolean = {
      var j = i + 1
      var depth = 1
      while (j < toks.length && depth > 0) {
        toks(j) match {
          case TOp("(") => depth += 1
          case TOp(")") => depth -= 1
          case TWord(w) if depth == 1 && w.equalsIgnoreCase("JOIN") => return true
          case _ =>
        }
        j += 1
      }
      false
    }

    private def clauseParen(): String = {
      expectOp("(")
      val out = ArrayBuffer.empty[String]
      while (more && !peekOp(")")) {
        peek match {
          case TWord(w) if GLUE(w.toUpperCase) || w.equalsIgnoreCase("WHERE") =>
            next(); out += w
          case TOp(",") => next(); out += ","
          case _ => out += expr(0)
        }
      }
      expectOp(")")
      s"(${out.mkString(" ")})"
    }

    /** struct_pack / struct_insert / union_value with `k := v` args.
      * unionMembers: set when the call sits directly inside
      * CAST(... AS UNION(...)) — emit the full tagged struct.
      */
    private def namedArgCall(fn: String, unionMembers: Option[Seq[(String, String)]]): String = {
      expectOp("(")
      val positional = ArrayBuffer.empty[String]
      val named = ArrayBuffer.empty[(String, String)]
      while (more && !peekOp(")")) {
        peek match {
          // quoted argument names too: union_value("member name 1" := v)
          case (TWord(_) | TQuoted(_)) if peekAt(1).exists(t => t == TOp(":=") || t == TOp("=>")) =>
            val k = next().text // TQuoted.text arrives unquoted
            next()
            named += ((k, expr(0)))
          case TOp(",") => next()
          case _ => positional += expr(0)
        }
      }
      expectOp(")")
      fn match {
        case "struct_pack" =>
          val args = named.flatMap { case (k, v) => Seq(s"'$k'", v) }
          s"named_struct(${args.mkString(", ")})"
        case "struct_insert" =>
          val args = positional ++ named.flatMap { case (k, v) => Seq(s"'$k'", v) }
          s"struct_insert(${args.mkString(", ")})"
        case "union_value" =>
          val (tag, v) = named.head
          unionMembers match {
            case None => s"named_struct('tag', '$tag', '$tag', $v)"
            case Some(members) =>
              val slots = members.flatMap { case (m, ty) =>
                if (m == tag) Seq(s"'$m'", s"CAST($v AS $ty)")
                else Seq(s"'$m'", s"CAST(NULL AS $ty)")
              }
              s"named_struct('tag', '$tag', ${slots.mkString(", ")})"
          }
      }
    }

    /** Integer-family cast targets round in the reference (double →
      * half-to-even, decimal/varchar → half away; Spark truncates) —
      * wrap the operand in graft_rint (plans/DuckNames.DuckRint) so
      * the outer cast truncates an already-rounded value. Skip when
      * the operand is a LITERAL integer (nothing to round — and the
      * hugeint/varint literal ladders depend on the raw text). */
    private val INT_CAST_TARGETS = Set(
      "TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT",
      "INT1", "INT2", "INT4", "INT8", "INT16", "INT32", "INT64",
      "SIGNED", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
      "UINT8", "UINT16", "UINT32", "UINT64", "SHORT", "LONG",
      // DECIMAL(38/20,0)-mapped integral types: Spark's decimal cast
      // rounds HALF_UP where the reference rints (48.5 differs)
      "HUGEINT", "UHUGEINT", "INT128", "UINT128")
    private def rintWrap(e: String, rawTy: String, ty: String,
        lenient: Boolean = false): String = {
      val tyU = ty.toUpperCase
      // rawTy is the PEEKED first type token — `INT[]` peeks "INT";
      // only wrap when the PARSED target is the plain integral type
      val scalarTarget = !(tyU.startsWith("ARRAY") || tyU.startsWith("STRUCT") ||
        tyU.startsWith("MAP"))
      // a GENERATOR operand must stay the direct child of the CAST —
      // SqlPasses.generatorPass hoists the `CAST(unnest(x) AS T)`
      // shape, and Spark rejects generators nested in expressions
      val generatorHead = "(?is)^(unnest|explode|posexplode|generate_series|generate_subscripts)\\s*\\(.*".r
        .pattern.matcher(e.trim).matches()
      if (scalarTarget && !generatorHead && INT_CAST_TARGETS(rawTy) &&
          !e.trim.matches("[+-]?[0-9]+") &&
          // NULL needs no rounding — and GraftSql.mapType recovers
          // type text from a translated CAST(NULL AS ty)
          !e.trim.equalsIgnoreCase("NULL"))
        s"${if (lenient) "graft_rint_try" else "graft_rint"}($e)"
      else e
    }

    private def castCall(kw: String): String = {
      expectOp("(")
      // Special shape: CAST(union_value(k := v) AS UNION(a T, b U))
      val isUnionValue = peek match {
        case TWord(w) => w.equalsIgnoreCase("union_value") && peekAt(1).contains(TOp("("))
        case _ => false
      }
      if (isUnionValue) {
        val save = i
        next() // union_value — parse it AFTER we know the target type
        // skip its balanced parens to find AS UNION(...)
        var depth = 0
        expectOp("(")
        depth = 1
        while (more && depth > 0) next() match {
          case TOp("(") => depth += 1
          case TOp(")") => depth -= 1
          case _ =>
        }
        if (peekWord("AS") && peekAt(1).exists {
          case TWord(u) => u.equalsIgnoreCase("UNION"); case _ => false
        }) {
          next(); next() // AS UNION
          val members = unionMemberList()
          expectOp(")") // close CAST
          val end = i
          i = save
          next() // union_value again, for real this time
          val out = namedArgCall("union_value", Some(members))
          i = end
          return out
        }
        i = save // not the union pattern — fall through to generic cast
      }
      val e = expr(0)
      require(peekWord("AS"), s"duck-dialect: $kw without AS"); next()
      val rawTy = peek.text.toUpperCase
      val ty = parseType()
      expectOp(")")
      if (isVarint(e)) castVarint(e, rawTy, ty)
      else if (rawTy == "VARINT")
        (if (isHuge(e)) s"varint(${hugePre(e, "")}_str($e))" else s"varint($e)")
      else if ((rawTy == "DATE" || rawTy.startsWith("TIMESTAMP")) &&
          bigTemporal(e, rawTy == "DATE").isDefined)
        bigTemporal(e, rawTy == "DATE").get
      else if ((rawTy == "DATE" || rawTy.startsWith("TIMESTAMP")) &&
          bcLiteral(e).isDefined)
        s"$kw(${bcLiteral(e).get} AS $ty)"
      else if ((rawTy == "DATE" || rawTy.startsWith("TIMESTAMP")) &&
          e.trim.matches("'\\d{4}/\\d{1,2}/\\d{1,2}([ T][^']*)?'"))
        // the reference's date parser accepts '/' separators
        // (date.cpp); Spark's cast does not
        s"$kw(${e.trim.replace('/', '-')} AS $ty)"
      else if (isHuge(e))
        castHuge(e, rawTy, ty).getOrElse(s"$kw(${hugePre(e, "")}_str($e) AS $ty)")
      else if (Set("HUGEINT", "UHUGEINT", "INT128", "UINT128")(rawTy) && outOf38(e))
        s"${if (rawTy.startsWith("U")) "uhugeint" else "hugeint"}($e)"
      else s"$kw(${rintWrap(e, rawTy, ty, lenient = kw == "TRY_CAST")} AS $ty)"
    }

    /** UNION( a T, b U ) member list; consumes through `)`. */
    private def unionMemberList(): Seq[(String, String)] = {
      expectOp("(")
      val members = ArrayBuffer.empty[(String, String)]
      while (more && !peekOp(")")) {
        val name = next().text
        val ty = parseType()
        members += ((name, ty))
        if (peekOp(",")) next()
      }
      expectOp(")")
      members.toSeq
    }

    private def caseExpr(): String = {
      val out = ArrayBuffer.empty[String]
      out += "CASE"
      if (!peekWord("WHEN")) out += expr(0)
      var going = true
      while (going && more) {
        if (peekWord("WHEN")) { next(); out += "WHEN"; out += expr(0) }
        else if (peekWord("THEN")) { next(); out += "THEN"; out += expr(0) }
        else if (peekWord("ELSE")) { next(); out += "ELSE"; out += expr(0) }
        else if (peekWord("END")) { next(); out += "END"; going = false }
        else going = false
      }
      out.mkString(" ")
    }

    private val INTERVAL_UNITS = Set(
      "YEAR", "YEARS", "MONTH", "MONTHS", "DAY", "DAYS", "HOUR", "HOURS",
      "MINUTE", "MINUTES", "SECOND", "SECONDS", "MILLISECOND", "MILLISECONDS",
      "MICROSECOND", "MICROSECONDS", "WEEK", "WEEKS", "QUARTER", "QUARTERS",
      "DECADE", "DECADES", "CENTURY", "CENTURIES",
      "MILLENNIUM", "MILLENNIA", "MILLENNIUMS", "TO")

    private def intervalLiteral(): String = {
      // `INTERVAL (expr) unit` — expression quantities have no Spark
      // literal form; they compile to make_*_interval calls
      if (peekOp("(")) {
        val q = primaryParen()
        val unit = next().text.toUpperCase.stripSuffix("S")
        return unit match {
          case "YEAR" => s"make_ym_interval($q, 0)"
          case "QUARTER" => s"make_ym_interval(0, 3 * $q)"
          case "MONTH" => s"make_ym_interval(0, $q)"
          case "WEEK" => s"make_dt_interval(7 * $q)"
          case "DAY" => s"make_dt_interval($q)"
          case "HOUR" => s"make_dt_interval(0, $q)"
          case "MINUTE" => s"make_dt_interval(0, 0, $q)"
          case "SECOND" => s"make_dt_interval(0, 0, 0, $q)"
          case "MILLISECOND" => s"make_dt_interval(0, 0, 0, ($q) / 1000.0)"
          case "MICROSECOND" => s"make_dt_interval(0, 0, 0, ($q) / 1000000.0)"
          case other => throw new IllegalArgumentException(
            s"INTERVAL $q $other: unsupported unit")
        }
      }
      val out = ArrayBuffer.empty[String]
      out += "INTERVAL"
      if (more) peek match {
        case TStr(_) | TNum(_) => out += next().text
        case _ =>
      }
      while (more && (peek match {
        case TWord(u) => INTERVAL_UNITS(u.toUpperCase)
        case _ => false
      })) out += next().text
      // the reference accepts interval strings Spark's literal parser
      // rejects: mixed year-month + day-time fields, fractional or
      // compound quantities, decade/century units, ms/us suffixes —
      // those compile to make_interval (CalendarIntervalType carries
      // mixed fields)
      mixedInterval(out.toSeq).getOrElse {
        // the reference also accepts quantity-glued-to-unit forms
        // ('1294967296months', test_interval.test:259) — Spark's
        // literal parser needs the space
        out.mkString(" ").replaceAll("(?<=[0-9])(?=[A-Za-z])", " ")
      }
    }

    /** Parse `INTERVAL '<q unit …>' [unit…]` into make_interval when
      * Spark's literal grammar can't carry it; None = passthrough.
      * Replays the reference's interval string parse (interval.cpp,
      * interval_constants.test — all pinned in IntervalLiteralSpec):
      *
      *  - `'<bare number>' UNIT` (quantity outside, unit keyword
      *    outside): the fraction is TRUNCATED toward zero for every
      *    unit except SECOND/MILLISECOND ('1.5' MINUTE = 1 minute,
      *    '1.5' SECOND = 1.5 s, '1.9' MICROSECONDS = 1 µs);
      *  - units INSIDE the string keep fractions with borrowing
      *    ('1.5 minutes' = 90 s, '1.5 months' = 1 mon 15 days,
      *    '1.5 days' = 1 day 12:00:00);
      *  - three-field clock forms `[-]HH:MM:SS[.ffffff]` (two-field
      *    errors in the reference too — left to fail loudly);
      *  - the full unit-alias table (mil/cent/c/dec/yr/qtr/mon/hr/
      *    min/sec/msec/usec + plurals), a leading '@', trailing
      *    'ago' negation, repeated units summing.
      */
    private def mixedInterval(parts: Seq[String]): Option[String] = {
      if (parts.length < 2) return None
      val content0 = parts(1)
      val isStr = content0.startsWith("'")
      val content = if (isStr) content0.stripPrefix("'").stripSuffix("'") else content0
      val tailUnits = parts.drop(2).mkString(" ")
      val full = (content + " " + tailUnits).trim.stripPrefix("@").trim
      val ago = "(?i)\\bago\\s*$".r.findFirstIn(full).isDefined
      var fullQ = if (ago) "(?i)\\bago\\s*$".r.replaceAllIn(full, "") else full
      // `'<bare number>' UNIT`: truncate the fraction per the
      // reference's single-quantity rule before the generic pair scan
      val BareNum = "^[+-]?\\d+(?:\\.\\d+)?$".r
      var truncated = false
      if (tailUnits.nonEmpty && BareNum.findFirstIn(content.trim).isDefined) {
        val q = content.trim.toDouble
        val u = tailUnits.trim.toLowerCase
        val keepFrac = u.startsWith("second") || u.startsWith("sec") ||
          u == "s" || u == "ms" || u.startsWith("millisecond") || u.startsWith("msec")
        if (!keepFrac && q != math.floor(q)) {
          fullQ = s"${q.toLong} ${tailUnits.trim}"
          truncated = true // the passthrough text still carries the fraction
        }
      }
      // three-field clock tokens; sign applies to the whole clock
      var clockMicros = 0.0
      var sawClock = false
      val clockRe = """([+-])?(\d+):(\d+):(\d+(?:\.\d+)?)""".r
      fullQ = clockRe.replaceAllIn(fullQ, m => {
        sawClock = true
        val sign = if (m.group(1) == "-") -1 else 1
        clockMicros += sign * (m.group(2).toDouble * 3600e6 +
          m.group(3).toDouble * 60e6 + m.group(4).toDouble * 1e6)
        " "
      })
      val pair = """([+-]?\d+(?:\.\d+)?)\s*([A-Za-z]+)""".r
      val pairs = pair.findAllMatchIn(fullQ).map(m => (m.group(1).toDouble,
        m.group(2).toLowerCase)).toSeq
      if (pairs.isEmpty && !sawClock) return None
      // reject if un-parsed residue remains (e.g. two-field '05:12'
      // clocks — a conversion error in the reference as well)
      val residue = pair.replaceAllIn(fullQ, "").replaceAll("[\\s,]+", "")
      if (residue.nonEmpty) return None
      var months = 0.0
      var days = 0.0
      var micros = clockMicros
      var odd = sawClock || truncated // anything Spark's literal parser can't hold
      // a REPEATED unit ('1294967296months -1294967296months' sums to
      // zero in the reference, test_interval.test:268) has no Spark
      // literal form either
      if (pairs.map(_._2).distinct.length != pairs.length) odd = true
      pairs.foreach { case (q, u) =>
        def frac = q != math.floor(q)
        u match {
          case "millennium" | "millenniums" | "millennia" | "mil" | "mils" =>
            months += q * 12000; odd = true
          case "century" | "centuries" | "cent" | "cents" | "c" =>
            months += q * 1200; odd = true
          case "decade" | "decades" | "dec" | "decs" =>
            months += q * 120; odd = true
          case "year" | "years" | "y" | "yr" | "yrs" => months += q * 12; if (frac) odd = true
          case "quarter" | "quarters" | "qtr" | "qtrs" => months += q * 3; odd = true
          case "month" | "months" | "mon" | "mons" => months += q; if (frac) odd = true
          case "week" | "weeks" | "w" => days += q * 7; if (frac) odd = true
          case "day" | "days" | "d" => days += q; if (frac) odd = true
          // Spark's multi-unit literal accepts fractional SECONDS
          // only — fractional coarser units route to make_interval
          case "hour" | "hours" | "h" | "hr" | "hrs" =>
            micros += q * 3600e6; if (frac) odd = true
          case "minute" | "minutes" | "m" | "min" | "mins" =>
            micros += q * 60e6; if (frac) odd = true
          case "second" | "seconds" | "s" | "sec" | "secs" => micros += q * 1e6
          case "millisecond" | "milliseconds" | "ms" | "msec" | "msecs" |
               "msecond" | "mseconds" => micros += q * 1e3; odd = true
          case "microsecond" | "microseconds" | "us" | "usec" | "usecs" |
               "usecond" | "useconds" => micros += q; odd = true
          case _ => return None
        }
      }
      if (ago) { months = -months; days = -days; micros = -micros }
      val hasYm = months != 0.0
      val hasDt = days != 0.0 || micros != 0.0
      if (!odd && !ago && !(hasYm && hasDt)) return None
      // fractional months borrow days at 30/month (interval.cpp:
      // '1.5 months' = 1 month 15 days)
      val mWhole = if (months >= 0) math.floor(months) else math.ceil(months)
      days += (months - mWhole) * 30.0
      val dWhole = if (days >= 0) math.floor(days) else math.ceil(days)
      val fracDayMicros = (days - dWhole) * 86400e6
      val secs = java.math.BigDecimal.valueOf((micros + fracDayMicros) / 1e6)
        .toPlainString
      Some(s"make_interval(0, ${mWhole.toLong}, 0, ${dWhole.toLong}, 0, 0, $secs)")
    }

    // -------------------------------------------------- postfix

    private def postfix(base0: String): String = {
      var base = base0
      var going = true
      while (going && more) {
        peek match {
          case TOp("[") =>
            next()
            // slice grammar `[lo?:hi?[:step]]`: a bound is empty when
            // its position holds nothing — or the reference's literal
            // `-` default-end marker (`a[1:-:2]`, test_list_slice_step
            // .test), recognized only when `-` directly precedes the
            // next ':' or ']' so negative bounds still parse
            def dashBound: Boolean = peekOp("-") && (peekAt(1) match {
              case Some(TOp(":")) | Some(TOp("]")) => true
              case _ => false
            })
            def bound(): Option[String] =
              if (peekOp(":") || peekOp("]")) None
              else if (dashBound) { next(); None }
              else Some(expr(0))
            val lo = bound()
            if (peekOp(":")) { // slice form
              next()
              val hi = bound()
              val step = if (peekOp(":")) { next(); bound() } else None
              expectOp("]")
              val loV = lo.getOrElse("NULL")
              val hiV = hi.getOrElse("NULL")
              val loE = lo.isEmpty
              val hiE = hi.isEmpty
              base = step match {
                case Some(st) =>
                  s"duck_slice($base, $loV, $hiV, $st, $loE, $hiE)"
                case None =>
                  s"duck_slice($base, $loV, $hiV, $loE, $hiE)"
              }
            } else {
              expectOp("]")
              // every subscript routes through the polymorphic
              // list_extract (DuckNames.ListExtract): 1-based list
              // index, struct field (by position or name), map key →
              // single-element LIST like the reference's map_extract
              base = s"list_extract(${base}, ${lo.getOrElse(
                throw new IllegalArgumentException(
                  "duck-dialect: empty subscript"))})"
            }
          case TWord(w) if w.equalsIgnoreCase("EXPORT_STATE") =>
            // `agg(x) EXPORT_STATE` (reference aggregate state export,
            // test_state_export.test): the state is a TRANSPARENT
            // mergeable struct here — (kind, count-component,
            // value-component) — rather than the reference's opaque
            // blob; FINALIZE/COMBINE below work on it. Persisting
            // partial aggregates and combining them later is exactly
            // the incremental-aggregation primitive a 100 TB pipeline
            // wants (combine yesterday's state with today's delta
            // without rescanning).
            next()
            base = exportState(base)
          case TOp("::") =>
            next()
            val rawTy = peek.text.toUpperCase
            val ty = parseType()
            base =
              if (isVarint(base)) castVarint(base, rawTy, ty)
              else if (rawTy == "VARINT")
                (if (isHuge(base)) s"varint(${hugePre(base, "")}_str($base))"
                 else s"varint($base)")
              else if ((rawTy == "DATE" || rawTy.startsWith("TIMESTAMP")) &&
                  bigTemporal(base, rawTy == "DATE").isDefined)
                bigTemporal(base, rawTy == "DATE").get
              else if ((rawTy == "DATE" || rawTy.startsWith("TIMESTAMP")) &&
                  bcLiteral(base).isDefined)
                s"CAST(${bcLiteral(base).get} AS $ty)"
              else if ((rawTy == "DATE" || rawTy.startsWith("TIMESTAMP")) &&
                  base.trim.matches("'\\d{4}/\\d{1,2}/\\d{1,2}([ T][^']*)?'"))
                // the reference's date parser accepts '/' separators
                s"CAST(${base.trim.replace('/', '-')} AS $ty)"
              else if (isHuge(base))
                castHuge(base, rawTy, ty).getOrElse(s"CAST(${hugePre(base, "")}_str($base) AS $ty)")
              else if (Set("HUGEINT", "UHUGEINT", "INT128", "UINT128")(rawTy) &&
                  outOf38(base))
                s"${if (rawTy.startsWith("U")) "uhugeint" else "hugeint"}($base)"
              else s"CAST(${rintWrap(base, rawTy, ty)} AS $ty)"
          case TOp("!") =>
            next()
            base = s"factorial($base)"
          case TWord(w) if w.equalsIgnoreCase("AT") && peekAt(1).exists {
            case TWord(x) => x.equalsIgnoreCase("TIME"); case _ => false
          } =>
            // `ts AT TIME ZONE 'z'`: the engine stores session-zone
            // (UTC) instants, so rendering an instant's wall clock in
            // zone z is from_utc_timestamp — the common direction;
            // (naive→instant re-interpretation would be to_utc_…)
            next(); next()
            if (peekWord("ZONE")) next()
            val tz = expr(90)
            base = s"from_utc_timestamp($base, $tz)"
          case TWord(w) if w.equalsIgnoreCase("COLLATE") && peekAt(1).exists {
            case TWord(_) | TQuoted(_) | TStr(_) => true; case _ => false
          } =>
            // reference collation names → Spark collation names
            // (NOCASE ≡ case-insensitive UTF8_LCASE; ICU locale names
            // like "de" pass through — Spark 4 ships ICU collations)
            next()
            val raw = next() match {
              case TWord(x) => x
              case TQuoted(x) => x
              case TStr(x) => x.stripPrefix("'").stripSuffix("'")
              case other => other.text
            }
            val mapped = raw.toUpperCase match {
              case "NOCASE" => "UTF8_LCASE"
              case "NOACCENT" => "UNICODE_AI"
              case _ => raw
            }
            base = s"collate($base, '$mapped')"
          case TOp(".") if peekAt(1).exists {
            case TWord(_) | TQuoted(_) => true; case _ => false
          } =>
            next()
            if (peekAt(1).contains(TOp("(")) && (peek match {
              case TWord(_) => true; case _ => false
            })) {
              // `base.f(args)` — the reference's function-chaining dot
              // (f(base, args)); field access stays the no-paren form
              val m = next().text
              expectOp("(")
              val args = ArrayBuffer.empty[String]
              while (more && !peekOp(")")) {
                args += expr(0)
                if (peekOp(",")) next()
              }
              expectOp(")")
              base = chainCall(m, base +: args.toSeq)
            } else next() match {
              case TWord(x) => base = s"$base.$x"
              case TQuoted(x) => base = s"$base.${quoteIdent(x)}"
              case other => base = s"$base.${other.text}"
            }
          case _ => going = false
        }
      }
      base
    }

    // -------------------------------------------------- types

    private val TYPE_MAP = Map(
      "HUGEINT" -> "DECIMAL(38,0)", "UHUGEINT" -> "DECIMAL(38,0)",
      "UBIGINT" -> "DECIMAL(20,0)", "UINTEGER" -> "BIGINT",
      "USMALLINT" -> "INTEGER", "UTINYINT" -> "SMALLINT",
      "INT1" -> "TINYINT", "INT2" -> "SMALLINT", "INT4" -> "INTEGER",
      "INT8" -> "BIGINT", "SIGNED" -> "BIGINT", "INT" -> "INTEGER",
      "VARCHAR" -> "STRING", "TEXT" -> "STRING", "BPCHAR" -> "STRING",
      // bare CHAR is VARCHAR in the reference (no padding semantics);
      // Spark's CHAR demands a length parameter
      "CHAR" -> "STRING",
      "BLOB" -> "BINARY", "BYTEA" -> "BINARY", "VARBINARY" -> "BINARY",
      "REAL" -> "FLOAT", "FLOAT4" -> "FLOAT", "FLOAT8" -> "DOUBLE",
      // bare DECIMAL/NUMERIC/DEC (no parameter list): the reference
      // defaults to (18,3), not Spark's (10,0)
      "NUMERIC" -> "DECIMAL(18,3)", "DEC" -> "DECIMAL(18,3)",
      "DECIMAL" -> "DECIMAL(18,3)",
      "LOGICAL" -> "BOOLEAN", "BOOL" -> "BOOLEAN",
      "TIMETZ" -> "STRING",
      "TIMESTAMPTZ" -> "TIMESTAMP", "TIMESTAMP_S" -> "TIMESTAMP",
      "TIMESTAMP_MS" -> "TIMESTAMP", "TIMESTAMP_NS" -> "TIMESTAMP",
      "UUID" -> "STRING", "JSON" -> "STRING", "BIT" -> "STRING",
      "DATETIME" -> "TIMESTAMP",
      "TIMESTAMP_US" -> "TIMESTAMP", "INT8" -> "BIGINT",
      "INT16" -> "SMALLINT", "INT32" -> "INTEGER", "INT64" -> "BIGINT",
      "FLOAT32" -> "FLOAT", "FLOAT64" -> "DOUBLE",
      "UINT8" -> "SMALLINT", "UINT16" -> "INTEGER", "UINT32" -> "BIGINT",
      "UINT64" -> "DECIMAL(20,0)", "UINT128" -> "DECIMAL(38,0)",
      "INT128" -> "DECIMAL(38,0)", "FLOAT4" -> "FLOAT", "FLOAT8" -> "DOUBLE",
      // VARINT is arbitrary-precision — kernel-encoded BINARY whose
      // bytewise order equals numeric order (plans/Varint.scala), so
      // compare/sort/group are native; parse/render via varint()/
      // varint_str(); casts through castVarint below
      "VARINT" -> "BINARY",
      "BITSTRING" -> "STRING")

    def parseType(): String = {
      val head = next().text
      val up = head.toUpperCase
      var base = up match {
        // ROW(...) is the reference's SQL-standard spelling of STRUCT
        case "STRUCT" | "ROW" if peekOp("(") =>
          expectOp("(")
          val fields = ArrayBuffer.empty[String]
          while (more && !peekOp(")")) {
            val fname = next() match {
              case TQuoted(s) => quoteIdent(s)
              case t => t.text
            }
            val fty = parseType()
            fields += s"$fname: $fty"
            if (peekOp(",")) next()
          }
          expectOp(")")
          s"STRUCT<${fields.mkString(", ")}>"
        case "MAP" if peekOp("(") =>
          expectOp("(")
          val k = parseType(); if (peekOp(",")) next()
          val v = parseType()
          expectOp(")")
          s"MAP<$k, $v>"
        case "UNION" if peekOp("(") =>
          val members = unionMemberList()
          // member names with spaces/specials (quoted in the DDL)
          // must backquote in Spark's struct type syntax
          val slots = members.map { case (m, ty) =>
            val mm = if (m.matches("[A-Za-z_][A-Za-z0-9_]*")) m
                     else "`" + m.replace("`", "``") + "`"
            s"$mm: $ty"
          }
          s"STRUCT<tag: STRING, ${slots.mkString(", ")}>"
        // inline anonymous enum type `ENUM('a','b')` — the dictionary
        // string IS the value (named enums validate via EnumTypes;
        // the anonymous form keeps only the representation)
        case "ENUM" if peekOp("(") =>
          expectOp("(")
          var depth = 1
          while (more && depth > 0) next() match {
            case TOp("(") => depth += 1
            case TOp(")") => depth -= 1
            case _ =>
          }
          "STRING"
        case "TIMESTAMP" | "TIME" if peekWord("WITH") || peekWord("WITHOUT") =>
          // TIMESTAMP WITH TIME ZONE / WITHOUT TIME ZONE
          val withTz = peekWord("WITH")
          next() // WITH/WITHOUT
          if (peekWord("TIME")) next()
          if (peekWord("ZONE")) next()
          if (up == "TIME") {
            if (withTz || !nativeTime) "STRING" else "TIME"
          }
          else if (withTz) "TIMESTAMP" else "TIMESTAMP_NTZ"
        case "TIME" => if (nativeTime) "TIME" else "STRING"
        case "DOUBLE" if peekWord("PRECISION") => next(); "DOUBLE"
        case _ if peekOp("(") => // parameterized: DECIMAL(p,s), VARCHAR(n), …
          expectOp("(")
          val params = ArrayBuffer.empty[String]
          while (more && !peekOp(")")) {
            params += next().text
            if (peekOp(",")) next()
          }
          expectOp(")")
          val mapped = up match {
            case "VARCHAR" | "BPCHAR" | "TEXT" | "CHAR" => "STRING" // drop length
            case "NUMERIC" | "DECIMAL" | "DEC" => "DECIMAL"
            // precision parameter is storage advice (TIMESTAMP(0)…(9),
            // timestamp_precision.test) — micros either way here
            case "TIMESTAMP" | "TIMESTAMPTZ" => return "TIMESTAMP"
            case "TIME" => return (if (nativeTime) "TIME" else "STRING")
            case other => TYPE_MAP.getOrElse(other, other)
          }
          if (mapped == "STRING") "STRING"
          // `DECIMAL()` / `DEC()`: the reference's default is (18,3);
          // width-only `DECIMAL(w)` is explicitly scale 0 in the
          // reference (transform_typename.cpp "only width is
          // provided: set scale to 0") — Spark's DECIMAL(w) default
          // already matches, so one-arg passes through unchanged
          else if (params.isEmpty && mapped.startsWith("DECIMAL")) "DECIMAL(18,3)"
          else if (mapped.contains("(")) mapped // pre-parameterized map entry
          else s"$mapped(${params.mkString(",")})"
        case other0 =>
          // schema-qualified user types (foo.bar) resolve bare; a
          // double-quoted type name ("group", "EN""UM") resolves by
          // its unquoted spelling
          var other = other0
          while (peekOp(".") && peekAt(1).exists(t =>
              t.isInstanceOf[TWord] || t.isInstanceOf[TQuoted])) {
            next(); other = next().text.toUpperCase
          }
          if (other.length >= 2 && other.startsWith("\"") && other.endsWith("\""))
            other = other.substring(1, other.length - 1).replace("\"\"", "\"").toUpperCase
          TYPE_MAP.getOrElse(other,
            // the reference's NULL type (SQLNULL): columns carry only
            // NULLs — STRING is the closest storable Spark type
            if (other == "NULL") "STRING"
            // user ENUM types registered via CREATE TYPE … AS ENUM map
            // to their dictionary-string representation (plans/EnumTypes
            // — value validation happens at the cast/INSERT layer)
            else if (EnumTypes.get(other).isDefined) "STRING"
            // user type ALIASES (CREATE TYPE x AS <base>): parse the
            // registered base type text in place
            else EnumTypes.aliasOf(other) match {
              case Some(raw) =>
                // cycle guard: a CREATE TYPE alias chain that loops
                // (x AS y; y AS x) must error, not blow the stack
                val d = DuckDialect.aliasDepth.get()
                require(d < 16, s"duck-dialect: type alias cycle at $other")
                DuckDialect.aliasDepth.set(d + 1)
                try new P(lex(raw), nativeTime).parseType()
                finally DuckDialect.aliasDepth.set(d)
              case None => other
            })
      }
      // array suffixes: T[] / T[][] / fixed-size T[3] (Spark has no
      // fixed-size arrays — maps to plain ARRAY, length unchecked),
      // and the SQL-standard `T ARRAY` keyword spelling
      var going = true
      while (going && (peekOp("[") || peekWord("ARRAY"))) {
        if (peekWord("ARRAY")) { next(); base = s"ARRAY<$base>" }
        else (peekAt(1), peekAt(2)) match {
          case (Some(TOp("]")), _) =>
            next(); next(); base = s"ARRAY<$base>"
          case (Some(TNum(_)), Some(TOp("]"))) =>
            next(); next(); next(); base = s"ARRAY<$base>"
          case _ => going = false
        }
      }
      base
    }
  }

  // DROP TABLE/VIEW … CASCADE|RESTRICT: the reference accepts the
  // SQL-standard modifiers on every DROP; Spark only on DROP SCHEMA —
  // dependency tracking differs by engine, the verb itself is the same
  private val DropModRe =
    """(?is)^(\s*DROP\s+(?:TABLE|VIEW|SEQUENCE|TYPE|INDEX|MACRO|FUNCTION)\s+.*?)\s+(?:CASCADE|RESTRICT)(\s*;?\s*)$""".r

  // the reference accepts OFFSET before LIMIT in either order;
  // Spark's grammar requires LIMIT … OFFSET
  private val OffsetLimitRe =
    """(?is)\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)\b""".r
  // catalog/schema-qualified builtin table functions resolve to the
  // builtin (`FROM new_db.my_schema.range(3)`, attach_table_info) —
  // Spark's TVF namespace is unqualified
  private val QualifiedTvfRe =
    """(?is)\b(FROM|JOIN)\s+(?:\w+\.){1,2}(range|generate_series|unnest)\s*\(""".r
  private val MainSchemaFnRe =
    """(?i)(?<![\w."'`])main\s*\.\s*([A-Za-z_]\w*)\s*\(""".r

  private val BareOverRe =
    ("""(?i)\b(row_number\s*\(\s*\)|rank\s*\(\s*\)|dense_rank\s*\(\s*\)|""" +
      """percent_rank\s*\(\s*\)|cume_dist\s*\(\s*\)|ntile\s*\([^()]*\))""" +
      """\s*OVER\s*\(\s*\)""").r
  private val InsertByPosRe =
    """(?is)\b(INSERT\s+(?:OR\s+\w+\s+)?INTO\s+[\w."`]+)\s+BY\s+POSITION\b""".r
  private val InsertParenValuesRe =
    """(?is)^(\s*INSERT\s+(?:OR\s+\w+\s+)?INTO\s+[\w."`]+)\s*\(\s*(VALUES\b.*)\)\s*;?\s*$""".r

  /** Translate one DuckDB-dialect statement into Spark SQL. Dialect
    * TIME maps to Spark 4.1's native TimeType when the active session
    * enables it (spark.sql.timeType.enabled), to STRING otherwise. The
    * keyword rewrites below run on code only (SqlText): an `OFFSET …
    * LIMIT` or `main.f(` inside a literal is data.
    */
  def translate(sql0: String): String = {
    val nativeTime = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.timeType.enabled", "false").toBoolean
    val sql1 = sql0 match {
      case DropModRe(head, tail) => head + tail
      case other => other
    }
    val sql2 = SqlText.replaceInCode(sql1, OffsetLimitRe)(m =>
      s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    // `INSERT INTO t BY POSITION …` — positional is the default;
    // `INSERT INTO t (VALUES …)` — Spark reads the paren as a column
    // list, so route the VALUES through a subquery
    val sql2b0 = SqlText.replaceInCode(sql2, QualifiedTvfRe)(m =>
      s"${m.group(1)} ${m.group(2)}(")
    // `main.<fn>(…)` — the reference's default-schema qualifier on
    // ANY function call (bug_10283 corpus: main.struct_pack,
    // main.list_value): strip it so the special-cased builtins
    // (struct_pack, …) hit their handlers (r13)
    val sql2b = SqlText.replaceInCode(sql2b0, MainSchemaFnRe)(m => s"${m.group(1)}(")
    val sql3 = SqlText.replaceInCode(sql2b, InsertByPosRe)(_.group(1))
    val sql = sql3 match {
      case InsertParenValuesRe(head, values) =>
        s"$head SELECT * FROM ($values)"
      case other => other
    }
    val p = new P(lex(sql), nativeTime)
    val out0 = p.statement()
    // early-return statement paths (DDL, DISTINCT ON, QUALIFY) leave
    // a trailing ';' unconsumed — every statement form accepts it
    p.skipSemis()
    require(!p.more, s"duck-dialect: trailing tokens from position ${p.i}")
    // `… GROUP BY … USING SAMPLE n` — the reference samples the
    // RESULT when the clause trails an aggregation; Spark's
    // TABLESAMPLE binds to relations only, so wrap (r13)
    // rank-family window calls over an EMPTY spec (`row_number()
    // OVER ()`, lateral_qualify corpus): the reference orders
    // arbitrarily; Spark requires an ORDER BY — a constant literal
    // order is the same contract (partition order decides)
    val out0b = SqlText.replaceInCode(out0, BareOverRe)(m =>
      s"${m.group(1)} OVER (ORDER BY 1)")
    // positional split on top-level keyword scans — a raw regex would
    // also match keywords inside string literals
    val gi = SqlText.topIndexOf(out0b, "GROUP BY")
    val ti = SqlText.topIndexOf(out0b, "TABLESAMPLE")
    val out =
      if (gi >= 0 && ti > gi &&
          out0b.substring(ti).matches(
            "(?is)TABLESAMPLE\\s*\\([^)]*\\)\\s*;?\\s*")) {
        val bodyPart = out0b.substring(0, ti).trim
        val samplePart =
          out0b.substring(ti).trim.stripSuffix(";").trim
        s"SELECT * FROM ($bodyPart) $samplePart"
      } else out0b
    out
  }
}
