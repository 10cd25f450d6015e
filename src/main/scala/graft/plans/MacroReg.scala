package graft.plans

import java.util.concurrent.ConcurrentHashMap

import SqlText.splitTop

/** CREATE MACRO through the front door (reference
  * src/parser/parsed_data/create_macro_info.cpp): DuckDB macros are
  * untyped SQL expressions inlined at bind time, so the faithful
  * Spark analog is textual expansion before translation — the macro
  * body lands in the caller's plan exactly like the reference's
  * binder inlines it (and like MacroSpec's typed SQL-UDF analog, but
  * without demanding parameter types DuckDB never had).
  *
  * r10 surface: DEFAULT parameters (`name := default` — named-only at
  * call sites, the reference's binder rule, pinned vs python-duckdb)
  * and OVERLOADS (`CREATE MACRO m () AS 0, (a) AS a, (a, b) AS a+b`,
  * test_macro_overloads.test) — call sites bind the signature whose
  * positional arity and named arguments fit.
  */
object MacroReg {

  /** One signature: parameters (name, optional default) + body. */
  private final case class Sig(params: Seq[(String, Option[String])], body: String)

  private val macros = new ConcurrentHashMap[String, Seq[Sig]]()

  // CREATE FUNCTION is the reference's alias for CREATE MACRO
  // (create_macro_info.cpp registers both spellings); TEMP/TEMPORARY
  // is a no-op scope (macros here are session-lived anyway)
  private val CreateHead =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MACRO|FUNCTION)\s+(?:IF\s+NOT\s+EXISTS\s+)?("[^"]+"|[A-Za-z_][\w.]*)\s*(\(.*)$""".r

  def isCreate(text: String): Boolean =
    CreateHead.findFirstMatchIn(text.trim.stripSuffix(";")).isDefined

  /** DROP MACRO [IF EXISTS] name (reference drop_statement.cpp —
    * macros share the generic DROP verb). */
  val DropRe =
    """(?is)^\s*DROP\s+(?:MACRO|FUNCTION)\s+(?:TABLE\s+)?(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$""".r

  def drop(name: String, ifExists: Boolean): Unit = {
    val bare = name.substring(name.lastIndexOf('.') + 1)
    val had = macros.remove(bare.toLowerCase) != null
    require(had || ifExists, s"DROP MACRO: no macro named $name")
  }

  private def parseParams(name: String, raw: String): Seq[(String, Option[String])] = {
    // `p` or `p := default` per parameter; duplicate names error like
    // the reference ("Duplicate macro parameter name")
    val ps = splitTop(raw, ',').map { p =>
      val i = p.indexOf(":=")
      if (i >= 0) (p.substring(0, i).trim, Some(p.substring(i + 2).trim))
      else (p, None)
    }
    require(ps.map(_._1.toLowerCase).distinct.length == ps.length,
      s"CREATE MACRO: duplicate macro parameter name in $name")
    ps.foreach { case (n0, _) =>
      require(!n0.contains("."),
        s"CREATE MACRO: invalid parameter name '$n0' (qualified names not allowed)")
    }
    ps
  }

  def register(text: String): Unit = text.trim.stripSuffix(";") match {
    case CreateHead(name, rest0) =>
      // schema qualifiers register under the bare name (the session
      // catalog here is single-schema); `AS TABLE <query>` macros
      // expand like scalar ones — the parenthesized body is a valid
      // FROM-position subquery
      val bare0 = name.stripPrefix("\"").stripSuffix("\"")
      val bare = bare0.substring(bare0.lastIndexOf('.') + 1)
      // one or more `(params) AS body` signatures, comma-separated
      // (test_macro_overloads.test)
      val sigs = scala.collection.mutable.ArrayBuffer.empty[Sig]
      var rest = rest0.trim
      while (rest.nonEmpty) {
        require(rest.startsWith("("),
          s"CREATE MACRO: expected (params) AS body, got: $rest")
        val close = SqlText.matchParen(rest, 0)
        val params = parseParams(bare, rest.substring(1, close))
        var tail = rest.substring(close + 1).trim
        require(tail.toUpperCase.startsWith("AS"),
          s"CREATE MACRO: missing AS after parameter list in $bare")
        tail = tail.substring(2).trim
        // the body runs to the next TOP-LEVEL `, (` signature start.
        // ONLY a comma followed by `(` separates signatures — `AS
        // TABLE select a,b from t` bodies carry bare top-level commas
        val cut = SqlText.findCode(tail)((i, d) => d == 0 && tail.charAt(i) == ',' && {
          val k = tail.indexWhere(!_.isWhitespace, i + 1)
          k >= 0 && tail.charAt(k) == '('
        })
        val (body, next) =
          if (cut < 0) (tail, "")
          else (tail.substring(0, cut), tail.substring(cut + 1).trim)
        sigs += Sig(params,
          body.trim.replaceFirst("(?is)^TABLE\\s+", ""))
        rest = next
      }
      require(sigs.nonEmpty, s"CREATE MACRO: no signature in $text")
      require(sigs.map(_.params.length).distinct.length == sigs.length,
        s"CREATE MACRO: duplicate overload arity in $bare")
      macros.put(bare.toLowerCase, sigs.toSeq)
    case _ => throw new IllegalArgumentException(
      s"CREATE MACRO: unsupported shape (scalar `name(p, …) AS expr` only): $text")
  }

  def nonEmpty: Boolean = !macros.isEmpty

  def clearAll(): Unit = macros.clear()

  private val NamedArg = "(?is)^([A-Za-z_]\\w*)\\s*:=\\s*(.+)$".r

  /** Bind a call's arguments against one signature: positional args
    * fill only the NON-defaulted parameters (defaulted ones are
    * named-only — the reference's binder rule, pinned:
    * `tdp(a := 4, b := 2)` rejects `tdp(1, 1)`); `k := v` args assign
    * by name; unfilled parameters take their default. Returns the
    * expanded body, or the binder error.
    */
  private def bind(name: String, sig: Sig, args: Seq[String]): Either[String, String] = {
    val (named, positional) = args.partition {
      case NamedArg(_, _) => true
      case _ => false
    }
    val values = new java.util.LinkedHashMap[String, String]()
    val positionalParams = sig.params.filter(_._2.isEmpty).map(_._1)
    if (positional.length > positionalParams.length)
      return Left(s"macro $name expects ${positionalParams.length} " +
        s"positional args, got ${positional.length}")
    positionalParams.zip(positional).foreach { case (p, a) =>
      values.put(p.toLowerCase, a)
    }
    named.foreach {
      case NamedArg(k, v) =>
        if (!sig.params.exists(_._1.equalsIgnoreCase(k)))
          return Left(s"macro $name has no parameter named $k")
        if (values.containsKey(k.toLowerCase))
          return Left(s"macro $name: duplicate value for parameter $k")
        values.put(k.toLowerCase, v)
      case _ =>
    }
    var expanded = sig.body
    sig.params.foreach { case (p, dflt) =>
      Option(values.get(p.toLowerCase)).orElse(dflt) match {
        case Some(a) =>
          // substitute only COLUMN-REFERENCE positions (the
          // reference's AST binder rule, test_sequence_macro /
          // export_macros corpus): not after a dot (`cte.n` is the
          // CTE's column), not a named-arg NAME (`y := 10` keeps y),
          // not an alias definition (`AS n` stays n)
          expanded = expanded.replaceAll(
            "(?i)(?<![\\w.$])(?<!\\bAS )" +
              java.util.regex.Pattern.quote(p) + "\\b(?!\\s*:=)",
            java.util.regex.Matcher.quoteReplacement(s"($a)"))
        case None =>
          return Left(s"macro $name expects ${sig.params.length} args, " +
            s"got ${args.length}")
      }
    }
    Right(expanded)
  }

  /** Expand macro calls textually, innermost-out, to a fixpoint
    * (macros may call macros — reference macros compose the same
    * way). Parameters substitute at identifier boundaries, arguments
    * parenthesized. Overloads bind in registration order — the first
    * signature the call's arity and names fit wins.
    */
  def expand(sql0: String): String = {
    if (macros.isEmpty) return sql0
    var sql = sql0
    var rounds = 0
    var changed = true
    // per-name expansion budget across ALL rounds: a macro whose body
    // calls its own bare name (the reference's
    // `CREATE MACRO s.range(a) AS TABLE SELECT * FROM range(a)` —
    // there the INNER call binds to the builtin) must not re-expand
    // itself 10×64 times and overflow the parser's stack; past the
    // budget the call text stays put and resolves like the builtin
    val spent = scala.collection.mutable.HashMap.empty[String, Int]
    // the budget only guards SELF-RECURSIVE macros (body calls its own
    // bare name); a non-recursive macro with >16 call sites in one
    // statement must expand them all (r13 advice)
    def selfRecursive(name: String): Boolean = {
      val re = ("(?i)(?<![\\w.])" +
        java.util.regex.Pattern.quote(name) + "\\s*\\(").r
      val sigs = macros.get(name)
      sigs != null && sigs.exists(s => re.findFirstIn(s.body).isDefined)
    }
    while (changed && rounds < 10) {
      changed = false
      rounds += 1
      macros.forEach { (name, sigs) =>
       if (!selfRecursive(name) || spent.getOrElse(name, 0) < 16) {
        // schema-qualified call sites (main.my_macro(..)) expand too —
        // macros registered bare, the qualifier names the schema
        val CallRe = ("(?i)(?<![\\w.])(?:[A-Za-z_]\\w*\\.)?" +
          java.util.regex.Pattern.quote(name) + "\\s*\\(").r
        var from = 0
        var spins = 0
        var go = true
        while (go && spins < 64) {
          spins += 1
          CallRe.findFirstMatchIn(sql.substring(from)) match {
            case None => go = false
            case Some(mm) =>
              val start = from + mm.start
              val open = sql.indexOf('(', start)
              val close = SqlText.matchParen(sql, open)
              val args = splitTop(sql.substring(open + 1, close), ',')
              var expanded: String = null
              sigs.foreach { sig =>
                if (expanded == null) bind(name, sig, args) match {
                  case Right(e) => expanded = e
                  case Left(_) =>
                }
              }
              if (expanded != null &&
                  (!selfRecursive(name) || spent.getOrElse(name, 0) < 16)) {
                spent(name) = spent.getOrElse(name, 0) + 1
                sql = sql.substring(0, start) + s"($expanded)" +
                  sql.substring(close + 1)
                changed = true
              } else if (expanded != null) {
                // budget exhausted (self-recursive macro): leave the
                // remaining call sites in place
                from = close + 1
              } else {
                // no signature fits this call's arity/names: leave the
                // site for the engine's BUILT-IN of the same name —
                // the reference's catalog rule (test_table_macro.test
                // creates a macro named `range`; `FROM range(3)` still
                // hits the built-in). True mistakes surface at
                // analysis instead.
                from = close + 1
              }
          }
        }
       }
      }
    }
    sql
  }
}
