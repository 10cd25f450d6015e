package graft.plans

import SqlText.{inCode, matchParen, splitTop, topIndexOf, wordAt}

/** Text-level rewrite passes run AFTER DuckDialect.translate — each
  * turns a reference idiom Spark's parser/analyzer rejects into
  * plan-equivalent Spark SQL. Pure text→text; schema-aware rewrites
  * live in GraftSql. Every scan asks SqlText, the one lexical rule,
  * what is code: a keyword, paren or comma inside a literal, a quoted
  * name or a comment is never rewritten.
  */
object SqlPasses {

  // ---------------------------------------------------------- helpers

  private def findAll(s: String, re: scala.util.matching.Regex): Seq[scala.util.matching.Regex.Match] =
    re.findAllMatchIn(s).toSeq

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

  // ------------------------------------------- window EXCLUDE

  /** The reference's window frame `EXCLUDE CURRENT ROW / GROUP /
    * TIES` (window_segment_tree handles exclusion natively) and
    * frame-extended named-window references (`OVER (w RANGE …)`),
    * neither of which Spark's parser accepts. Named windows are
    * inlined from the WINDOW clause; each EXCLUDE is rewritten into
    * arithmetic over plain frames:
    *   SUM … EXCLUDE CURRENT ROW ≡ SUM(frame) − COALESCE(E, 0)
    *   SUM … EXCLUDE GROUP       ≡ SUM(frame) − COALESCE(SUM(peers), 0)
    *   SUM … EXCLUDE TIES        ≡ SUM(frame) − SUM(peers) + E
    *   COUNT analogues count rows instead; MIN/MAX over a bounded
    *   ROWS frame EXCLUDE CURRENT ROW split into least/greatest of
    *   the two half-frames. `peers` = RANGE BETWEEN CURRENT ROW AND
    *   CURRENT ROW over the same partition+order.
    */
  // EXCLUDE as a window-frame modifier — NOT `UNPIVOT EXCLUDE NULLS`
  // (the SQL-standard unpivot option) or a star-EXCLUDE remnant
  private val ExcludeRe = "(?i)\\bEXCLUDE\\b(?!\\s+NULLS\\b)".r

  def windowExcludePass(sql0: String): String = {
    var sql = sql0
    if (ExcludeRe.findFirstIn(sql).isEmpty &&
        "(?i)\\bWINDOW\\b".r.findFirstIn(sql).isEmpty) return sql

    // 1. collect + strip the WINDOW clause (any depth — each SELECT
    //    scope's clause is found by the same keyword scan)
    val windows = scala.collection.mutable.Map.empty[String, String]
    val WindowRe = "(?i)\\bWINDOW\\s+".r
    var changed = true
    while (changed) {
      changed = false
      for (wm <- SqlText.findInCode(sql, WindowRe) if !changed) {
        // parse name AS (body) [, name AS (body)]*
        var i = wm.end
        val start = wm.start
        var ok = true
        while (ok) {
          val nameEnd0 = sql.indexWhere(c => !(c.isLetterOrDigit || c == '_'), i)
          val nameEnd = if (nameEnd0 < 0) sql.length else nameEnd0
          val name = sql.substring(i, nameEnd)
          var j = nameEnd
          while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
          if (name.isEmpty || j + 2 > sql.length || !sql.substring(j, j + 2).equalsIgnoreCase("AS")) { ok = false }
          else {
            j += 2
            while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
            require(j < sql.length && sql.charAt(j) == '(', "WINDOW: expected (spec)")
            val close = matchParen(sql, j)
            windows(name.toLowerCase) = sql.substring(j + 1, close).trim
            i = close + 1
            while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
            if (i < sql.length && sql.charAt(i) == ',') {
              i += 1
              while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
            } else ok = false
          }
        }
        if (windows.nonEmpty) {
          sql = sql.substring(0, start) + " " + sql.substring(i)
          changed = true
        }
      }
      if (windows.isEmpty) changed = false
    }

    // 2. inline named windows into every OVER reference
    if (windows.nonEmpty) {
      val OverRef = "(?i)\\bOVER\\s*".r
      val sb = new StringBuilder
      var last = 0
      for (om <- findAll(sql, OverRef) if inCode(sql, om.start)) {
        val j = om.end
        if (j < sql.length && sql.charAt(j) == '(') {
          val close = matchParen(sql, j)
          val body = sql.substring(j + 1, close)
          val first = body.trim.takeWhile(c => c.isLetterOrDigit || c == '_')
          windows.get(first.toLowerCase) match {
            case Some(base) if last <= om.start =>
              val rest = body.trim.drop(first.length)
              sb.append(sql.substring(last, j + 1)).append(base).append(" ").append(rest)
              last = close
            case _ =>
          }
        } else if (last <= om.start) { // bare OVER name
          val nameEnd0 = sql.indexWhere(c => !(c.isLetterOrDigit || c == '_'), j)
          val nameEnd = if (nameEnd0 < 0) sql.length else nameEnd0
          val name = sql.substring(j, nameEnd)
          if (windows.contains(name.toLowerCase)) {
            sb.append(sql.substring(last, j)).append("(").append(windows(name.toLowerCase)).append(")")
            last = nameEnd
          }
        }
      }
      sb.append(sql.substring(last))
      sql = sb.toString
    }

    // 3. rewrite EXCLUDE frames
    var guard = 0
    var ex = SqlText.findInCode(sql, ExcludeRe).map(_.start).getOrElse(-1)
    while (ex >= 0 && guard < 32) {
      guard += 1
      sql = rewriteOneExclude(sql, ex)
      ex = SqlText.findInCode(sql, ExcludeRe).map(_.start).getOrElse(-1)
    }
    sql
  }

  /** The aggregate call directly before an OVER keyword at `overIdx`:
    * (fnStart, FN-uppercase, argument text). A `FILTER (WHERE p)`
    * clause between the call and OVER is folded into the argument
    * (Spark rejects FILTER on window aggregates outright — NULLs
    * don't aggregate), exactly like the dialect translator's own
    * FILTER+OVER handling.
    */
  private def callBeforeOver(sql: String, overIdx: Int, what: String): (Int, String, String, Boolean) = {
    var e = overIdx - 1
    while (e >= 0 && sql.charAt(e).isWhitespace) e -= 1
    // `fn(args) IGNORE NULLS OVER (...)` — capture the modifier (the
    // translator hoists the reference's in-paren spelling here)
    var ignoreNulls = false
    var w = 0
    while (w < 2 && e >= 0 && (sql.charAt(e).isLetter)) {
      val wEnd = e + 1
      var wStart = e
      while (wStart >= 0 && sql.charAt(wStart).isLetter) wStart -= 1
      val word = sql.substring(wStart + 1, wEnd).toUpperCase
      if (word == "NULLS" || word == "IGNORE" || word == "RESPECT") {
        if (word == "IGNORE") ignoreNulls = true
        e = wStart
        while (e >= 0 && sql.charAt(e).isWhitespace) e -= 1
        w += 1
      } else w = 2
    }
    require(e >= 0 && sql.charAt(e) == ')', s"$what: no call before OVER")
    val cOpen = SqlText.openParen(sql, e)
    var fnStart = cOpen - 1
    while (fnStart >= 0 && sql.charAt(fnStart).isWhitespace) fnStart -= 1
    val fnEnd = fnStart + 1
    while (fnStart >= 0 && (sql.charAt(fnStart).isLetterOrDigit || sql.charAt(fnStart) == '_')) fnStart -= 1
    fnStart += 1
    var fn = sql.substring(fnStart, fnEnd).toUpperCase
    var arg = sql.substring(cOpen + 1, e).trim
    if (fn == "FILTER") {
      val filterPred = arg.replaceAll("(?is)^WHERE\\s+", "")
      var e2 = fnStart - 1
      while (e2 >= 0 && sql.charAt(e2).isWhitespace) e2 -= 1
      require(e2 >= 0 && sql.charAt(e2) == ')', s"$what: FILTER without a call")
      val cOpen2 = SqlText.openParen(sql, e2)
      var fnStart2 = cOpen2 - 1
      while (fnStart2 >= 0 && sql.charAt(fnStart2).isWhitespace) fnStart2 -= 1
      val fnEnd2 = fnStart2 + 1
      while (fnStart2 >= 0 && (sql.charAt(fnStart2).isLetterOrDigit || sql.charAt(fnStart2) == '_')) fnStart2 -= 1
      fnStart2 += 1
      fn = sql.substring(fnStart2, fnEnd2).toUpperCase
      arg = sql.substring(cOpen2 + 1, e2).trim
      fnStart = fnStart2
      arg =
        if (arg == "*") s"(CASE WHEN $filterPred THEN 1 END)"
        else s"(CASE WHEN $filterPred THEN ($arg) END)"
    }
    (fnStart, fn, arg, ignoreNulls)
  }

  /** ORDER BY key expressions of a window partition+order prefix,
    * directions stripped — row identity for the EXCLUDE fallback.
    */
  private def orderKeysOf(po: String): Seq[String] = {
    val idx = topIndexOf(po, "ORDER BY")
    if (idx < 0) Seq.empty
    else splitTop(po.substring(idx + "ORDER BY".length), ',').map { k0 =>
      var k = k0.trim
      k = k.replaceAll("(?i)\\s+NULLS\\s+(FIRST|LAST)$", "")
      k = k.replaceAll("(?i)\\s+(ASC|DESC)$", "")
      k.trim
    }.filter(_.nonEmpty)
  }

  /** FN name + argument text → (kernel fn, value expr, quantile arg). */
  private def kernelFnOf(fn: String, arg: String,
      ignoreNulls: Boolean = false): (String, String, Option[String]) = {
    val parts = splitTop(arg, ',')
    def vq: (String, Option[String]) = {
      require(parts.length == 2, s"window EXCLUDE: $fn expects (value, q), got ($arg)")
      (parts(0).trim, Some(parts(1).trim))
    }
    def in(base: String): String = if (ignoreNulls) base + "_in" else base
    fn match {
      case "SUM" => ("sum", arg, None)
      case "AVG" | "MEAN" => ("avg", arg, None)
      case "COUNT" => ("count", if (arg.trim == "*") "1" else arg, None)
      case "MIN" => ("min", arg, None)
      case "MAX" => ("max", arg, None)
      case "MEDIAN" => ("median", arg, None)
      case "MODE" => ("mode", arg, None)
      case "MAD" => ("mad", arg, None)
      case "QUANTILE_CONT" | "PERCENTILE" => val (v, q) = vq; ("quantile_cont", v, q)
      case "QUANTILE_DISC" | "QUANTILE" => val (v, q) = vq; ("quantile_disc", v, q)
      case "STDDEV" | "STDDEV_SAMP" => ("stddev", arg, None)
      case "VAR_SAMP" | "VARIANCE" => ("var_samp", arg, None)
      case "FIRST_VALUE" | "FIRST" => (in("first"), arg, None)
      case "LAST_VALUE" | "LAST" => (in("last"), arg, None)
      case "NTH_VALUE" => val (v, q) = vq; (in("nth"), v, q)
      // COUNT(DISTINCT x) OVER translates to a collect_set form before
      // this pass — the kernel's sorted distinct set feeds the
      // surrounding size()/cardinality() unchanged
      case "COLLECT_SET" => ("collect_set", arg, None)
      case "ARRAY_AGG" | "COLLECT_LIST" | "LIST" => ("array_agg", arg, None)
      case other => throw new IllegalArgumentException(
        s"window frame kernel: unsupported aggregate $other")
    }
  }

  /** EXCLUDE fallback for frames/aggregates the algebraic rewrite
    * can't reach: collect the frame as (order-keys…, value) structs
    * and apply the exclusion in graft_exclude_agg
    * (operators/FrameAgg.scala — holistic aggregates, bounded-ROWS
    * frames that cut the peer group, frames not containing the
    * current row).
    */
  private def excludeFallback(po: String, frameTail: String, kind: String,
      fn: String, arg: String, ignoreNulls: Boolean): String = {
    val (kfn, vExpr, qOpt) = kernelFnOf(fn, arg, ignoreNulls)
    val keys = orderKeysOf(po)
    val fields = (keys.zipWithIndex.map { case (k, i) => s"'k$i', ($k)" } :+
      s"'v', ($vExpr)").mkString(", ")
    val spec = if (frameTail.trim.isEmpty) po else s"$po ${frameTail.trim}"
    // size-guarded: a skewed partition at scale fails loudly with the
    // shard fallback named (operators/FrameAgg.FrameSizeGuard) rather
    // than OOMing inside the window exec
    val arr = s"graft_guard_frame(collect_list(named_struct($fields)) OVER ($spec))"
    val cur = s"named_struct($fields)"
    val qArg = qOpt.map(q => s", CAST($q AS DOUBLE)").getOrElse("")
    s"graft_exclude_agg($arr, $cur, '${kind.toLowerCase}', '$kfn'$qArg)"
  }

  private def rewriteOneExclude(sql: String, exIdx0: Int): String = {
    // EXCLUDE sits inside an OVER (...) — find the enclosing parens
    var open = -1
    var depth = 0
    var i = exIdx0
    while (i >= 0 && open < 0) {
      val c = sql.charAt(i)
      if (c == ')') depth += 1
      else if (c == '(') { if (depth == 0) open = i else depth -= 1 }
      i -= 1
    }
    require(open >= 0, "EXCLUDE outside parens")
    val close = matchParen(sql, open)
    val spec = sql.substring(open + 1, close)
    val exIdx = topIndexOf(spec, "EXCLUDE")
    val frame = spec.substring(0, exIdx).trim
    val kindTxt = spec.substring(exIdx + "EXCLUDE".length).trim.toUpperCase
    val kind =
      if (kindTxt.startsWith("CURRENT")) "CURRENT"
      else if (kindTxt.startsWith("GROUP")) "GROUP"
      else if (kindTxt.startsWith("TIES")) "TIES"
      else "NONE" // NO OTHERS

    // the aggregate call directly before OVER
    val overIdx = sql.toUpperCase.lastIndexOf("OVER", open) match {
      case x if x >= 0 => x
      case _ => throw new IllegalArgumentException("EXCLUDE without OVER")
    }
    val (fnStart, fn, arg, ignoreNulls) = callBeforeOver(sql, overIdx, "EXCLUDE")
    val filterPred = "" // folded into arg by callBeforeOver
    val nullsSfx = if (ignoreNulls) " IGNORE NULLS" else ""

    // partition+order prefix of the frame (everything before the
    // frame-unit keyword) → the peers frame
    val frameUnitIdx = Seq("ROWS", "RANGE", "GROUPS").map(topIndexOf(frame, _))
      .filter(_ >= 0).minOption.getOrElse(frame.length)
    val po = frame.substring(0, frameUnitIdx).trim
    val peers = s"$po RANGE BETWEEN CURRENT ROW AND CURRENT ROW"

    // The algebraic rewrites below subtract an aggregate over the
    // current row (or its peer group) from the framed aggregate —
    // valid only when the frame actually CONTAINS what is subtracted.
    // Parse the frame bounds and gate each kind on that, rather than
    // silently diverging from the reference's frame-intersected
    // exclusion on frames that cut the peer group or skip the row.
    val frameTail = frame.substring(frameUnitIdx).trim
    val unit = frameTail.takeWhile(!_.isWhitespace).toUpperCase
    val (loTxt, hiTxt) =
      if (frameTail.isEmpty) ("UNBOUNDED PRECEDING", "CURRENT ROW")
      else {
        val body = frameTail.drop(unit.length).trim
        val BetweenRe = "(?is)^BETWEEN\\s+(.+?)\\s+AND\\s+(.+)$".r
        body match {
          case BetweenRe(lo, hi) => (lo.trim.toUpperCase, hi.trim.toUpperCase)
          case single => (single.trim.toUpperCase, "CURRENT ROW")
        }
      }
    // frame contains the current row: start not after it, end not before
    val containsCurrent =
      (loTxt.endsWith("PRECEDING") || loTxt == "CURRENT ROW") &&
        (hiTxt.endsWith("FOLLOWING") || hiTxt == "CURRENT ROW")
    // frame contains the FULL peer group: RANGE/GROUPS frames that
    // contain the current row always do (peers sit at distance 0);
    // a ROWS frame can cut the group unless it spans the partition
    val containsGroup =
      if (frameTail.isEmpty || unit == "RANGE" || unit == "GROUPS") containsCurrent
      else loTxt == "UNBOUNDED PRECEDING" && hiTxt == "UNBOUNDED FOLLOWING"
    // algebraic rewrites are valid only when the frame CONTAINS what
    // is subtracted; otherwise (and for holistic aggregates) fall back
    // to the collected-frame kernel, which intersects by construction
    val algebraOk = kind match {
      case "CURRENT" => containsCurrent
      case "GROUP" | "TIES" => containsGroup
      case _ => true
    }
    val boundedRows = "(?i)ROWS\\s+BETWEEN\\s+(.+?)\\s+AND\\s+(.+)$".r
      .findFirstIn(frame.substring(frameUnitIdx).trim).isDefined
    val algebraicFn = fn match {
      case "SUM" | "AVG" | "COUNT" => true
      // IGNORE NULLS breaks the edge-shift algebra (the first non-null
      // can be any frame row, not just the edge) — kernel route
      case "FIRST_VALUE" | "LAST_VALUE" =>
        !ignoreNulls && (kind == "CURRENT" || kind == "NONE")
      case "MIN" | "MAX" => (kind == "CURRENT" && boundedRows) || kind == "NONE"
      case _ => false
    }
    // GROUP/TIES without ORDER BY: every row is a peer (the
    // reference's rule) — the algebra's RANGE-CURRENT-ROW peers frame
    // needs an ORDER BY Spark rejects; the kernel handles it directly
    val orderedSpec = topIndexOf(po, "ORDER BY") >= 0
    val useFallback = kind != "NONE" &&
      (!(algebraOk && algebraicFn) ||
        ((kind == "GROUP" || kind == "TIES") && !orderedSpec))

    val filterSuffix = if (filterPred.isEmpty) "" else s" FILTER (WHERE $filterPred)"
    // current row's contribution under a FILTER: zero when p is false
    def argIf(zero: String): String =
      if (filterPred.isEmpty) s"($arg)"
      else s"(CASE WHEN $filterPred THEN ($arg) ELSE $zero END)"
    val full = s"$fn($arg)$nullsSfx$filterSuffix OVER ($frame)"
    val replacement = if (fn == "LEAD" || fn == "LAG")
      // lead/lag navigate the PARTITION, not the frame — frame AND
      // exclusion are no-ops on them in the reference, and Spark
      // rejects explicit frames on lead/lag outright
      s"$fn($arg)$nullsSfx$filterSuffix OVER ($po)"
    else if (useFallback)
      excludeFallback(po, frame.substring(frameUnitIdx), kind, fn, arg, ignoreNulls)
    else (fn, kind) match {
      case (_, "NONE") => full
      case ("SUM" | "AVG", _) =>
        // excluded-frame sum and count from the same algebra; the
        // count guards the empty-after-exclusion case (SUM of an
        // empty set is NULL — with a FILTER the frame can be nonempty
        // while the filtered multiset is not, so `full − current`
        // alone would wrongly yield 0)
        val sumFull = s"SUM($arg)$filterSuffix OVER ($frame)"
        val cntFull = s"COUNT($arg)$filterSuffix OVER ($frame)"
        val (sumR, cntR) = kind match {
          case "CURRENT" =>
            (s"(($sumFull) - COALESCE(${argIf("0")}, 0))",
              s"(($cntFull) - CASE WHEN ${argIf("NULL")} IS NULL THEN 0 ELSE 1 END)")
          case "GROUP" =>
            (s"(($sumFull) - COALESCE(SUM($arg)$filterSuffix OVER ($peers), 0))",
              s"(($cntFull) - COUNT($arg)$filterSuffix OVER ($peers))")
          case _ => // TIES
            (s"(($sumFull) - COALESCE(SUM($arg)$filterSuffix OVER ($peers), 0) + COALESCE(${argIf("0")}, 0))",
              s"(($cntFull) - COUNT($arg)$filterSuffix OVER ($peers) + CASE WHEN ${argIf("NULL")} IS NULL THEN 0 ELSE 1 END)")
        }
        if (fn == "AVG") s"(CAST($sumR AS DOUBLE) / NULLIF($cntR, 0))"
        else s"(CASE WHEN $cntR = 0 THEN NULL ELSE $sumR END)"
      case ("COUNT", "CURRENT") =>
        if (arg == "*") s"(($full) - ${if (filterPred.isEmpty) "1" else s"(CASE WHEN $filterPred THEN 1 ELSE 0 END)"})"
        else s"(($full) - CASE WHEN ${argIf("NULL")} IS NULL THEN 0 ELSE 1 END)"
      case ("COUNT", "GROUP") =>
        s"(($full) - COUNT($arg)$filterSuffix OVER ($peers))"
      case ("COUNT", "TIES") =>
        if (arg == "*")
          s"(($full) - COUNT($arg)$filterSuffix OVER ($peers) + ${if (filterPred.isEmpty) "1" else s"(CASE WHEN $filterPred THEN 1 ELSE 0 END)"})"
        else s"(($full) - COUNT($arg)$filterSuffix OVER ($peers) + CASE WHEN ${argIf("NULL")} IS NULL THEN 0 ELSE 1 END)"
      case ("FIRST_VALUE", "CURRENT") =>
        // excluding the current row moves FIRST_VALUE only when the
        // frame STARTS at the current row — shift the edge one row in
        if (loTxt == "CURRENT ROW")
          s"FIRST_VALUE($arg) OVER ($po ${unit.toUpperCase} BETWEEN 1 FOLLOWING AND $hiTxt)"
        else full
      case ("LAST_VALUE", "CURRENT") =>
        if (hiTxt == "CURRENT ROW")
          s"LAST_VALUE($arg) OVER ($po ${unit.toUpperCase} BETWEEN $loTxt AND 1 PRECEDING)"
        else full
      case ("MIN" | "MAX", "CURRENT") =>
        // bounded ROWS frame: combine the two half-frames
        val FrameRe = "(?i)ROWS\\s+BETWEEN\\s+(.+?)\\s+AND\\s+(.+)$".r
        frame.substring(frameUnitIdx).trim match {
          case FrameRe(lo, hi) =>
            val cmb = if (fn == "MIN") "least" else "greatest"
            val loF = s"$po ROWS BETWEEN ${lo.trim} AND 1 PRECEDING"
            val hiF = s"$po ROWS BETWEEN 1 FOLLOWING AND ${hi.trim}"
            val loOk = !lo.trim.equalsIgnoreCase("CURRENT ROW")
            val hiOk = !hi.trim.equalsIgnoreCase("CURRENT ROW")
            (loOk, hiOk) match {
              case (true, true) =>
                s"$cmb($fn($arg) OVER ($loF), $fn($arg) OVER ($hiF))"
              case (true, false) => s"$fn($arg) OVER ($loF)"
              case (false, true) => s"$fn($arg) OVER ($hiF)"
              case _ => s"CAST(NULL AS DOUBLE)"
            }
          case _ => throw new IllegalArgumentException(
            s"EXCLUDE CURRENT ROW on $fn needs a bounded ROWS frame, got: $frame")
        }
      case other => throw new IllegalArgumentException(
        s"window EXCLUDE: unsupported combination $other")
    }
    sql.substring(0, fnStart) + replacement + sql.substring(close + 1)
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

  // ------------------------------------------- non-literal frame bounds

  /** `ROWS BETWEEN <expr> PRECEDING AND <expr> FOLLOWING` — the
    * reference evaluates boundary expressions per row
    * (test/sql/window/test_boundary_expr.test); Spark's parser
    * requires foldable frame bounds. Rewrite: collect the partition
    * ONCE (an unbounded collect_list window — Catalyst computes the
    * identical expression a single time per partition and shares it
    * across the multiple textual occurrences below), then each row
    * slices its own [rn−lo, rn+hi] range and reduces it in
    * graft_frame_agg (operators/FrameAgg.scala). Literal bounds stay
    * on Spark's native (faster, streaming) window frames.
    */
  private val LiteralBoundRe =
    "(?i)^(\\d+\\s+(PRECEDING|FOLLOWING)|UNBOUNDED\\s+(PRECEDING|FOLLOWING)|CURRENT\\s+ROW)$".r

  private def frameBounds(body: String): (String, String) =
    if (body.toUpperCase.startsWith("BETWEEN")) {
      val rest = body.substring("BETWEEN".length).trim
      val andIdx = topIndexOf(rest, "AND")
      require(andIdx >= 0, s"frame bounds: BETWEEN without AND in ($body)")
      (rest.substring(0, andIdx).trim, rest.substring(andIdx + 3).trim)
    } else (body.trim, "CURRENT ROW")

  /** Open-paren index of the first OVER spec whose ROWS frame carries
    * a non-literal bound.
    */
  private def findExprBoundOver(sql: String): Option[Int] = {
    val OverRe = "(?i)\\bOVER\\s*\\(".r
    for (om <- findAll(sql, OverRe)) {
      if (inCode(sql, om.start)) {
        val open = om.end - 1
        val spec = sql.substring(open + 1, matchParen(sql, open))
        val rowsIdx = topIndexOf(spec, "ROWS")
        if (rowsIdx >= 0) {
          val (lo, hi) = frameBounds(spec.substring(rowsIdx + 4).trim)
          if (LiteralBoundRe.findFirstIn(lo).isEmpty ||
              LiteralBoundRe.findFirstIn(hi).isEmpty)
            return Some(open)
        }
      }
    }
    None
  }

  def windowExprBoundsPass(sql0: String): String = {
    if ("(?i)\\b(PRECEDING|FOLLOWING)\\b".r.findFirstIn(sql0).isEmpty) return sql0
    var sql = sql0
    var guard = 0
    var target = findExprBoundOver(sql)
    while (target.isDefined && guard < 32) {
      guard += 1
      sql = rewriteOneExprBound(sql, target.get)
      target = findExprBoundOver(sql)
    }
    sql
  }

  private def rewriteOneExprBound(sql: String, open: Int): String = {
    val close = matchParen(sql, open)
    val spec = sql.substring(open + 1, close)
    val rowsIdx = topIndexOf(spec, "ROWS")
    val po = spec.substring(0, rowsIdx).trim
    val (loTxt, hiTxt) = frameBounds(spec.substring(rowsIdx + 4).trim)
    val overIdx = sql.toUpperCase.lastIndexOf("OVER", open) match {
      case x if x >= 0 => x
      case _ => throw new IllegalArgumentException("frame bounds: no OVER")
    }
    val (fnStart, fn, arg, ignoreNulls) = callBeforeOver(sql, overIdx, "frame bounds")
    val (kfn, vExpr, qOpt) = kernelFnOf(fn, arg, ignoreNulls)
    val rn = s"ROW_NUMBER() OVER ($po)"
    // size-guarded like excludeFallback's frame collect
    val arr = s"graft_guard_frame(collect_list(named_struct('v', ($vExpr))) OVER " +
      s"($po ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"
    val sz = s"size($arr)"
    def idxOf(bound: String): String = {
      val b = bound.trim
      val up = b.toUpperCase
      if (up == "CURRENT ROW") s"($rn)"
      else if (up == "UNBOUNDED PRECEDING") "1"
      else if (up == "UNBOUNDED FOLLOWING") s"($sz)"
      else if (up.endsWith("PRECEDING"))
        s"(($rn) - (${b.substring(0, b.length - "PRECEDING".length).trim}))"
      else if (up.endsWith("FOLLOWING"))
        s"(($rn) + (${b.substring(0, b.length - "FOLLOWING".length).trim}))"
      else throw new IllegalArgumentException(s"frame bounds: bad bound ($bound)")
    }
    val s1 = s"GREATEST(${idxOf(loTxt)}, 1)"
    val e1 = s"LEAST(${idxOf(hiTxt)}, $sz)"
    val len = s"GREATEST(CAST(($e1) - ($s1) + 1 AS INT), 0)"
    val st = s"CAST(LEAST($s1, $sz) AS INT)"
    val vals = s"transform(slice($arr, $st, $len), __fe -> __fe.v)"
    val qArg = qOpt.map(q => s", CAST($q AS DOUBLE)").getOrElse("")
    val replacement = s"graft_frame_agg($vals, '$kfn'$qArg)"
    sql.substring(0, fnStart) + replacement + sql.substring(close + 1)
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
