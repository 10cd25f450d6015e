package graft.plans

import SqlText.{inCode, matchParen, splitTop, topIndexOf, wordAt}

/** Text-level rewrite passes run around DuckDialect.translate — each
  * turns a reference idiom Spark's parser rejects into plan-equivalent
  * Spark SQL: nested generators (generatorPass) and empty grouping
  * elements (emptyGroupingPass) after translation, deferred-ON join
  * nesting (nestedJoinPass) before it. Pure text→text; schema-aware
  * rewrites live in GraftSql. Every scan asks SqlText, the one lexical
  * rule, what is code: a keyword, paren or comma inside a literal, a
  * quoted name or a comment is never rewritten.
  */
object SqlPasses {

  /** The schema-free passes a translated statement takes before Spark
    * parses it.
    */
  def sparkText(translated: String): String = generatorPass(emptyGroupingPass(translated))

  // ------------------------------------------- nested generators

  /** Spark generators (explode) cannot nest inside expressions; the
    * reference's `unnest(x)::T` / `CAST(unnest(x) AS T)` select-item
    * idiom lands exactly there after translation. Rewrite each
    * `CAST(explode(X) AS T)` into a LATERAL VIEW over X, and when the
    * statement also computes `generate_subscripts(X, 1)` (the
    * reference's 1-based index generator, zipped positionally with
    * unnest of the same list) use ONE posexplode for both — which is
    * also the plan you want: a single generator, no zip join.
    */
  def generatorPass(sql0: String): String = {
    var sql = sql0
    var n = 0
    val CastExplode = "(?i)CAST\\s*\\(\\s*explode\\s*\\(".r
    var m = SqlText.findInCode(sql, CastExplode)
    while (m.isDefined && n < 8) {
      n += 1
      val castStart = m.get.start
      val exOpen = sql.indexOf('(', sql.toLowerCase.indexOf("explode", castStart) + 6)
      val exClose = matchParen(sql, exOpen)
      val arg = sql.substring(exOpen + 1, exClose).trim
      val gv = s"__gv$n"
      val gp = s"__gp$n"
      val argRe = java.util.regex.Pattern.quote(arg)
      val subsRe = ("(?i)generate_subscripts\\s*\\(\\s*" + argRe + "\\s*,\\s*1\\s*\\)").r
      val hasSubs = subsRe.findFirstIn(sql).isDefined
      // replace the nested explode call with the lateral-view column
      sql = sql.substring(0, sql.toLowerCase.indexOf("explode", castStart)) + gv +
        sql.substring(exClose + 1)
      if (hasSubs) sql = subsRe.replaceAllIn(sql, s"($gp + 1)")
      // insert the LATERAL VIEW after the first table ref of the FROM
      // clause at the same depth as the rewritten expression
      val lv =
        if (hasSubs) s" LATERAL VIEW posexplode($arg) __g$n AS $gp, $gv "
        else s" LATERAL VIEW explode($arg) __g$n AS $gv "
      val fromIdx = topIndexOf(sql, "FROM", castStart)
      if (fromIdx < 0) {
        // FROM-less SELECT carrying a nested generator (the
        // reference's `SELECT CAST(UNNEST(xs) AS T)` constant form,
        // test_complex_macro.test nested_cte): synthesize a one-row
        // FROM for the lateral view at the end of the select's
        // clause region (before a same-depth clause keyword / the
        // enclosing subquery's `)` / end of statement)
        val kws = Seq("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
          "QUALIFY", "UNION", "EXCEPT", "INTERSECT", "WINDOW", "OFFSET")
        val stop = SqlText.findCode(sql, castStart)((i, d) => d == 0 &&
          (");".indexOf(sql.charAt(i)) >= 0 || kws.exists(wordAt(sql, i, _))))
        val ins = if (stop < 0) sql.length else stop
        sql = sql.substring(0, ins) + s" FROM (SELECT 1) AS __gone$n " +
          lv + " " + sql.substring(ins)
        m = SqlText.findInCode(sql, CastExplode)
      } else {
      // end of the first table ref: consume the ref itself (bare name,
      // table-function call like explode(sequence(..)), or subquery),
      // then any alias — `t`, `AS t`, or `t(col, ..)` — so the LATERAL
      // VIEW lands after the complete aliased relation, never inside it
      var j = fromIdx + 4
      def skipWs(): Unit =
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
      def word(): String = {
        val s0 = j
        while (j < sql.length && (sql.charAt(j).isLetterOrDigit ||
          "._`".contains(sql.charAt(j)))) j += 1
        sql.substring(s0, j)
      }
      skipWs()
      if (j < sql.length && sql.charAt(j) == '(') j = matchParen(sql, j) + 1
      else {
        word()
        skipWs()
        // table-function arguments
        if (j < sql.length && sql.charAt(j) == '(') j = matchParen(sql, j) + 1
      }
      // optional alias (stop at clause keywords and joins)
      val stopKw = Set("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
        "UNION", "EXCEPT", "INTERSECT", "JOIN", "LEFT", "RIGHT", "FULL",
        "INNER", "CROSS", "LATERAL", "ON", "USING", "QUALIFY", "WINDOW",
        "OFFSET", "ASOF", "NATURAL", "SEMI", "ANTI")
      val save = j
      skipWs()
      if (j < sql.length && sql.charAt(j).isLetter) {
        val w = word()
        if (w.equalsIgnoreCase("AS")) { skipWs(); word() }
        if (w.isEmpty || stopKw.contains(w.toUpperCase)) j = save
        else {
          skipWs()
          // column aliases `t(a, b)`
          if (j < sql.length && sql.charAt(j) == '(') j = matchParen(sql, j) + 1
        }
      } else j = save
      sql = sql.substring(0, j) + lv + sql.substring(j)
      m = SqlText.findInCode(sql, CastExplode)
      }
    }
    sql
  }

  // ------------------------------------------------ empty grouping ()

  /** The reference accepts `()` as a GROUP BY element — an EMPTY
    * grouping contributing no keys (test/sql/aggregate/group/
    * test_group_by_empty.test: `GROUP BY ()` is one global group;
    * `GROUP BY (), course, ()` ≡ GROUP BY course). Spark's parser
    * rejects a bare `()`. Drop empty elements from every top-level
    * GROUP BY list; when nothing remains, emit the equivalent
    * `GROUPING SETS (())` (one global group even with zero aggregate
    * rows semantics preserved — dropping the clause would change
    * SELECT 1 FROM t GROUP BY () from one row to n rows).
    */
  def emptyGroupingPass(sql0: String): String = {
    if (!sql0.contains("()")) return sql0
    val GroupBy = "(?i)\\bGROUP\\s+BY\\b".r
    val ends = Seq("HAVING", "ORDER", "LIMIT", "OFFSET", "QUALIFY",
      "WINDOW", "UNION", "EXCEPT", "INTERSECT")
    var sql = sql0
    // right-to-left so replacements don't shift earlier offsets
    GroupBy.findAllMatchIn(sql0).toSeq.reverse.foreach { m =>
      if (inCode(sql0, m.start)) {
        // the item list ends at a clause keyword or `;` at its depth,
        // at the enclosing subquery's `)`, or at the end of statement
        val stop = SqlText.findCode(sql, m.end)((i, d) => d == 0 &&
          (");".indexOf(sql.charAt(i)) >= 0 || ends.exists(wordAt(sql, i, _))))
        val end = if (stop < 0) sql.length else stop
        val items = splitTop(sql.substring(m.end, end), ',')
        if (items.contains("()")) {
          val kept = items.filter(_ != "()")
          val clause =
            if (kept.isEmpty) "GROUP BY GROUPING SETS (()) "
            else s"GROUP BY ${kept.mkString(", ")} "
          sql = sql.substring(0, m.start) + clause + sql.substring(end)
        }
      }
    }
    sql
  }

  /** Postgres deferred-ON join nesting
    * (`A join B join C on cInner on cOuter`, pg_lateral corpus):
    * each ON closes the MOST RECENT open join, so the inner joins
    * nest — a grammar Spark lacks (it needs the inner group
    * parenthesized). Parses the statement's top-level FROM segment as
    * that join tree and re-emits `A join (B join C on cInner) on
    * cOuter`. Returns the input UNCHANGED unless a deferred ON was
    * actually found (every join's ON directly following its right
    * side is the normal left-assoc grammar — untouched).
    */
  private[graft] def nestedJoinPass(sql: String): String = {
    val fromIdx = topIndexOf(sql, "FROM")
    if (fromIdx < 0) return sql
    val rest = sql.substring(fromIdx + 4)
    val segEnd = Seq("WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY",
        "ORDER", "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT")
      .map(k => topIndexOf(rest, k)).filter(_ >= 0)
      .reduceOption(_ min _).getOrElse(rest.length)
    val seg = SqlText.stripComments(rest.substring(0, segEnd))

    // tokenize: paren groups atomic, commas their own token, words
    // split on whitespace (a literal or quoted name stays in its word)
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < seg.length) {
      val ch = seg.charAt(i)
      if (ch.isWhitespace) i += 1
      else if (ch == '(') {
        val close = matchParen(seg, i)
        if (close < 0) return sql
        toks += seg.substring(i, close + 1); i = close + 1
      } else if (ch == ',') { toks += ","; i += 1 }
      else {
        var j = i
        while (j < seg.length && !seg.charAt(j).isWhitespace &&
            seg.charAt(j) != '(' && seg.charAt(j) != ',')
          j = SqlText.spanEnd(seg, j).max(j + 1)
        toks += seg.substring(i, j); i = j
      }
    }

    val JoinHead = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL",
      "CROSS", "NATURAL", "SEMI", "ANTI")
    var p = 0
    var deferred = false
    def peekU: String = if (p < toks.length) toks(p).toUpperCase else ""
    def atJoin: Boolean = JoinHead(peekU) &&
      // the join keyword sequence must actually reach a JOIN word
      (0 to 3).exists(k => p + k < toks.length &&
        toks(p + k).equalsIgnoreCase("JOIN"))
    def joinWords(): String = {
      val sb = scala.collection.mutable.ArrayBuffer.empty[String]
      while (p < toks.length && !toks(p).equalsIgnoreCase("JOIN")) {
        sb += toks(p); p += 1
      }
      sb += toks(p); p += 1 // JOIN
      sb.mkString(" ")
    }
    def primary(): String = {
      val sb = scala.collection.mutable.ArrayBuffer.empty[String]
      while (p < toks.length && !atJoin && peekU != "," &&
          peekU != "ON" && peekU != "USING") {
        sb += toks(p); p += 1
      }
      sb.mkString(" ")
    }
    def condition(): String = {
      val sb = scala.collection.mutable.ArrayBuffer.empty[String]
      while (p < toks.length && !atJoin && peekU != "," && peekU != "ON") {
        sb += toks(p); p += 1
      }
      sb.mkString(" ")
    }
    def chainFrom(first: String, nested: Boolean): String = {
      var node = first
      while (p < toks.length && atJoin) {
        val jw = joinWords()
        val right0 = primary()
        val noOn = "(?i)\\b(CROSS|NATURAL)\\b".r.findFirstIn(jw).isDefined
        val right =
          if (atJoin && !noOn) {
            deferred = true
            "(" + chainFrom(right0, nested = true) + ")"
          } else right0
        val on =
          if (peekU == "ON") { p += 1; " ON " + condition() }
          else if (peekU == "USING") {
            p += 1; val u = if (p < toks.length) { val t = toks(p); p += 1; t }
            else ""
            s" USING $u"
          } else ""
        node = s"$node $jw $right$on"
        if (nested && peekU == "ON") return node
      }
      node
    }
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    while (p < toks.length) {
      val before = p
      items += chainFrom(primary(), nested = false)
      if (peekU == ",") p += 1
      // stray ON/USING the chain could not attach: not the deferred
      // grammar — bail out unchanged rather than spin
      if (p == before) return sql
    }
    if (!deferred) sql
    else sql.substring(0, fromIdx) + "FROM " + items.mkString(", ") +
      " " + rest.substring(segEnd)
  }
}
