package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SqlText.{splitTop, topIndexOf}

/** `ASOF [LEFT] JOIN` statement syntax through the front door — the
  * reference's spelling (parser/transform/tableref/transform_join.cpp:54
  * sets JoinRefType::ASOF; the binder requires exactly one inequality
  * among the conjuncts). The join itself is the q31 union+window plan
  * (operators/Joins.asofJoin): one shuffle on the key, one sort, zero
  * pair space — the same partition-by-key/sort-by-time shape as the
  * reference's physical_asof_join.cpp, which is the plan that holds
  * at 100 TB.
  *
  * Translate-time rewrite, schema-aware: the joined result is bound in
  * the statement scope (plans/StatementScope) and the statement
  * re-targeted at it, so everything around the join (projections,
  * WHERE, GROUP BY, the rest of the dialect) flows through the normal
  * path. Supported shape:
  * `FROM <table> [alias] ASOF [LEFT] JOIN <table> [alias] ON <conds>`
  * with plain table names; equality conjuncts become the key, the one
  * inequality (>=, >, <=, <) the time ordering. Right-side columns
  * whose names collide with left ones are dropped from the output
  * (for matched rows the key columns are equal anyway) — qualify with
  * distinct names where both are needed.
  */
object AsofSql {

  private val ClauseKw = Set("WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY",
    "ORDER", "LIMIT", "UNION", "EXCEPT", "INTERSECT", "USING")

  /** True when the statement contains a top-level `ASOF
    * [LEFT|RIGHT|SEMI|ANTI] JOIN`. A WITH list ahead of it, or CTE
    * bodies holding one, are bound by GraftSql first. */
  def matches(text: String): Boolean =
    Seq("ASOF JOIN", "ASOF LEFT JOIN", "ASOF RIGHT JOIN", "ASOF SEMI JOIN", "ASOF ANTI JOIN")
      .exists(topIndexOf(text, _) >= 0)

  /** Execute the join and return the statement rewritten over the
    * joined frame's name in the statement scope. */
  def rewrite(spark: SparkSession, text: String): String = {
    val asofIdx = topIndexOf(text, "ASOF")
    val fromIdx = topIndexOf(text, "FROM")
    require(fromIdx >= 0, "ASOF JOIN: no FROM clause")
    require(asofIdx > fromIdx, "ASOF JOIN: ASOF before FROM")
    val (ltName, ltAlias) = tableRef(spark, text.substring(fromIdx + 4, asofIdx))
    var rest = text.substring(asofIdx + 4).trim
    var leftOuter = false
    var rightOuter = false
    var semi = false
    var anti = false
    if (rest.toUpperCase.startsWith("LEFT")) { leftOuter = true; rest = rest.drop(4).trim }
    else if (rest.toUpperCase.startsWith("RIGHT")) { rightOuter = true; rest = rest.drop(5).trim }
    else if (rest.toUpperCase.startsWith("SEMI")) { semi = true; rest = rest.drop(4).trim }
    else if (rest.toUpperCase.startsWith("ANTI")) { anti = true; rest = rest.drop(4).trim }
    require(rest.toUpperCase.startsWith("JOIN"), "ASOF: expected JOIN")
    rest = rest.drop(4).trim
    val onIdx = topIndexOf(rest, "ON")
    require(onIdx > 0, "ASOF JOIN: missing ON")
    val (rtName, rtAlias) = tableRef(spark, rest.substring(0, onIdx))
    rest = rest.substring(onIdx + 2)
    // the ON condition runs to the next top-level clause keyword
    val condEnd = ClauseKw.iterator.map(k => topIndexOf(rest, k))
      .filter(_ >= 0).reduceOption(_ min _).getOrElse(rest.length)
    val cond = rest.substring(0, condEnd)
    val tail = rest.substring(condEnd)

    val lt = spark.table(ltName)
    val rt0 = spark.table(rtName)
    val lNames = (Seq(ltName) ++ ltAlias).map(_.toLowerCase)
    val rNames = (Seq(rtName) ++ rtAlias).map(_.toLowerCase)
    // name-colliding right columns: rename them (c → c__r) and
    // rewrite the statement's QUALIFIED references so `t2.col0`
    // survives when both sides spell the same column name — without
    // this the collision rule silently dropped the right column and
    // `t2.col0` resolved to the LEFT side
    val collide = rt0.columns.filter(c => lt.columns.exists(_.equalsIgnoreCase(c)))
    val rt =
      if (collide.isEmpty) rt0
      else rt0.toDF(rt0.columns.map(c =>
        if (collide.contains(c)) s"${c}__r" else c).toIndexedSeq: _*)
    def renameRefs(s: String): String = {
      var out = s
      for (q <- rNames; c <- collide)
        out = out.replaceAll(
          "(?i)\\b" + java.util.regex.Pattern.quote(q) + "\\s*\\.\\s*" +
            java.util.regex.Pattern.quote(c) + "\\b",
          s"${c}__r")
      out
    }
    val textHead = renameRefs(text.substring(0, fromIdx))
    def strip(e: String): String = {
      var s = e
      for (q <- lNames ++ rNames)
        s = s.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(q) + "\\s*\\.\\s*", "")
      s
    }
    def sideOf(e: String): String = {
      val qual = "(?i)\\b([A-Za-z_][A-Za-z_0-9]*)\\s*\\.".r
        .findFirstMatchIn(e).map(_.group(1).toLowerCase)
      qual match {
        case Some(q) if lNames.contains(q) => "l"
        case Some(q) if rNames.contains(q) => "r"
        case _ =>
          // scan every identifier in the expression (function names
          // and type keywords like CAST/TIMESTAMP resolve to neither
          // side) and take the first that names a column
          val ids = "(?i)\\b[A-Za-z_][A-Za-z_0-9]*\\b".r.findAllIn(e.trim)
          ids.collectFirst {
            case c if lt.columns.exists(_.equalsIgnoreCase(c)) => "l"
            case c if rt.columns.exists(_.equalsIgnoreCase(c)) => "r"
          }.getOrElse(throw new IllegalArgumentException(
            s"ASOF JOIN: cannot resolve side of `$e`"))
      }
    }

    val leftKeys = scala.collection.mutable.ArrayBuffer.empty[Column]
    val rightKeys = scala.collection.mutable.ArrayBuffer.empty[Column]
    var time: Option[(Column, Column, String)] = None
    val condR = renameRefs(cond)
    val tailR = renameRefs(tail)
    for (conjunct <- splitAnd(condR)) {
      val (lhs, op, rhs) = comparison(conjunct)
      val (le, re0, normOp) =
        if (sideOf(lhs) == "l") (lhs, rhs, op)
        else (rhs, lhs, flip(op))
      require(sideOf(re0) == "r",
        s"ASOF JOIN: conjunct `$conjunct` does not compare the two sides")
      if (normOp == "=") {
        leftKeys += expr(strip(le)); rightKeys += expr(strip(re0))
      } else {
        require(time.isEmpty, s"ASOF JOIN: more than one inequality in `$condR`")
        time = Some((expr(strip(le)), expr(strip(re0)), normOp))
      }
    }
    val (ltime, rtime, dir) = time.getOrElse(throw new IllegalArgumentException(
      "ASOF JOIN: no inequality condition (reference requires exactly one)"))

    // positional field names: the union inside asofJoin matches
    // nested struct fields BY NAME, and the two sides' key
    // expressions are named differently
    def keyStruct(ks: Seq[Column]): Column =
      if (ks.isEmpty) lit(0)
      else struct(ks.zipWithIndex.map { case (c, i) => c.as(s"_k$i") }: _*)
    val lKey = keyStruct(leftKeys.toSeq)
    val rKey = keyStruct(rightKeys.toSeq)
    val payload = rt.columns.filterNot(c => lt.columns.contains(c)).toSeq
    val joined0 = graft.operators.Joins.asofJoin(
      lt, rt, lKey, rKey, ltime, rtime, payload,
      direction = dir, leftOuter = leftOuter, rightOuter = rightOuter)
    // SEMI: an inner asof join emits each probe row at most once, so
    // semi = project the probe side's columns; ANTI = the probe rows
    // WITHOUT a match — multiset difference against the semi set
    // (reference asof semi/anti join family)
    val joined =
      if (semi) joined0.select(lt.columns.map(col).toIndexedSeq: _*)
      else if (anti)
        lt.exceptAll(joined0.select(lt.columns.map(col).toIndexedSeq: _*))
      else joined0
    val view = StatementScope.get.fresh("__asof_", joined)
    strip(textHead) + "FROM " + view + " " + strip(tailR)
  }

  private def tableRef(spark: SparkSession, s: String): (String, Option[String]) = {
    val t = s.trim
    if (t.startsWith("(")) {
      // parenthesized relation (`(VALUES …) AS t1` / `(SELECT …) t1`):
      // run through the front door and bound in the statement scope.
      // Bare VALUES bodies get the reference's col0… column names
      // (Spark numbers them col1…).
      val close = SqlText.matchParen(t, 0)
      var df = graft.GraftSql.sql(spark, t.substring(1, close))
      if (t.substring(1, close).trim.toUpperCase.startsWith("VALUES") &&
          df.columns.forall(_.matches("col\\d+")))
        df = df.toDF(df.columns.map(c =>
          "col" + (c.stripPrefix("col").toInt - 1)).toIndexedSeq: _*)
      val aliasRaw = t.substring(close + 1).trim
      val aliasTok = aliasRaw.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
        .headOption.filter(_.nonEmpty)
      // `alias(col, …)` — a column-alias list renames the frame's
      // columns (`(VALUES …) p(begin)`, asof corpus) (r13)
      val alias = aliasTok.map(_.takeWhile(c => c.isLetterOrDigit || c == '_'))
        .filter(_.nonEmpty)
      if (alias.nonEmpty && aliasRaw.contains("(")) {
        val open = aliasRaw.indexOf('(')
        val cls = SqlText.matchParen(aliasRaw, open)
        val cols = aliasRaw.substring(open + 1, cls).split(",").map(_.trim)
          .map(_.stripPrefix("\"").stripSuffix("\""))
        if (cols.length == df.columns.length)
          df = df.toDF(cols.toIndexedSeq: _*)
      }
      // bound under a fresh name, not the raw alias: the alias would
      // shadow a same-named table for the rest of the statement. Alias
      // qualifiers in the spliced statement are handled by
      // strip()/renameRefs instead.
      (StatementScope.get.fresh("__asof_rel_", df), alias)
    } else {
      val parts = t.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
      require(parts.nonEmpty && parts.length <= 2,
        s"ASOF JOIN: expected `table [alias]`, got: $s")
      (parts(0), parts.lift(1))
    }
  }

  private def splitAnd(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var cur = s
    var i = topIndexOf(cur, "AND")
    while (i >= 0) {
      out += cur.substring(0, i)
      cur = cur.substring(i + 3)
      i = topIndexOf(cur, "AND")
    }
    out += cur
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Find the one top-level comparison operator in a conjunct. */
  private def comparison(s: String): (String, String, String) = {
    val i = SqlText.findCode(s)((i, d) => d == 0 && "<>=".indexOf(s.charAt(i)) >= 0)
    if (i < 0) throw new IllegalArgumentException(s"ASOF JOIN: no comparison in `$s`")
    val op = s.substring(i, if (s.startsWith("=", i + 1)) i + 2 else i + 1)
    (s.substring(0, i), op, s.substring(i + op.length))
  }

  private def flip(op: String): String = op match {
    case ">=" => "<="
    case "<=" => ">="
    case ">"  => "<"
    case "<"  => ">"
    case "="  => "="
  }

  /** `<left> la ASOF [LEFT] JOIN <rel> ra[(cols)] USING (c)` — at ANY
    * depth — rewritten LAZILY to a LATERAL top-1 probe:
    *
    *   la [LEFT] JOIN LATERAL (SELECT * FROM <rel> __ab[(cols)]
    *     WHERE __ab.c <= la.c ORDER BY __ab.c DESC LIMIT 1) ra ON true
    *
    * This is the rewrite that composes with CORRELATED subqueries
    * (test_asof_join_subquery corpus): the statement-level rewrite
    * materializes the join eagerly, which a subquery referencing
    * outer columns cannot do, while the lateral form stays a plan
    * fragment. USING's single column is the inequality (backward
    * `>=`, the reference's bind_joinref default); multiplicity
    * matches the ASOF contract (exactly one matched right row; LEFT
    * keeps unmatched left rows NULL-padded). Plain relation or
    * `fn(args)` right sides only — the shapes the corpus uses.
    */
  private val UsingRe =
    ("""(?is)\bASOF\s+(LEFT\s+)?JOIN\s+""" +
      """([A-Za-z_]\w*(?:\s*\((?:[^()]|\([^()]*\))*\))?)""" + // rel / fn(args)
      """\s+(?:AS\s+)?([A-Za-z_]\w*)\s*(\(\s*[\w", ]*\s*\))?""" + // alias[(cols)]
      """\s+USING\s*\(\s*"?([A-Za-z_]\w*)"?\s*\)""").r

  /** Some(rewritten) when the text carries an ASOF…USING join. */
  def usingPass(text: String): Option[String] = {
    val m = SqlText.findInCode(text, UsingRe).getOrElse(return None)
    val left = if (m.group(1) != null) "LEFT " else ""
    val rel = m.group(2)
    val alias = m.group(3)
    val cols = Option(m.group(4)).getOrElse("")
    val c = m.group(5)
    // the left alias: the identifier immediately before ASOF
    val la = "([A-Za-z_]\\w*)\\s*$".r
      .findFirstMatchIn(text.substring(0, m.start))
      .map(_.group(1)).getOrElse(return None)
    val lateral =
      s"${left}JOIN LATERAL (SELECT * FROM $rel __ab$cols " +
        s"WHERE __ab.$c <= $la.$c ORDER BY __ab.$c DESC LIMIT 1) $alias ON true"
    Some(text.substring(0, m.start) + lateral + text.substring(m.end))
  }
}
