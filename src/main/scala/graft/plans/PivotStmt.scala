package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SqlText.{splitTop, topIndexOf}

/** The reference's statement-form PIVOT / UNPIVOT
  * (src/parser/transform/statement/transform_pivot_stmt.cpp +
  * planner/binder/statement/bind_pivot.cpp, exercised by the
  * test/sql/pivot suite):
  *
  *   PIVOT|PIVOT_WIDER ⟨src⟩ [ON e [IN (…)] [, …]] [USING agg [AS a]
  *     [, …]] [GROUP BY cols] [ORDER BY …/LIMIT …]
  *   UNPIVOT|PIVOT_LONGER ⟨src⟩ ON cols|(tuples)|COLUMNS('re')|
  *     * EXCLUDE (…) [INTO NAME n VALUE v [, …]]
  *
  * Execution is two-phase exactly like the reference (bind_pivot.cpp
  * enumerates the ON values with a bounded distinct scan, then plans
  * a grouped aggregate over them): the distinct pass runs first, the
  * combination columns become schema, and the pivot itself is
  * Spark's relational `groupBy(..).pivot(values).agg(..)` — a
  * map-side-combinable single shuffle, no driver data path beyond
  * the bounded (≤10k) value list every engine materializes as
  * schema. The pivoted frame is bound in the statement scope
  * (plans/StatementScope) and its name spliced back, so the
  * surrounding query (CTE arm, FROM item, setop arm, tails) continues
  * through the normal front door.
  *
  * Observed reference semantics pinned by PivotStmtSpec:
  * - implicit GROUP BY (no GROUP BY given): with ON → every source
  *   column not pivoted and not consumed by an aggregate; without ON
  *   → none (global aggregate) — optional_pivots.test.
  * - no USING → count(*) cells (only meaningful with ON; a bare
  *   GROUP BY without ON/USING is just DISTINCT group columns).
  * - multiple ON entries / (a, b) tuples: combination columns named
  *   value1_value2 (pivot_example.test); an IN list pins the values
  *   (and their order), otherwise the sorted distinct values.
  * - multiple USING aggregates interleave per value, columns named
  *   value_alias.
  * - UNPIVOT: labels keep the schema's original column case, tuple
  *   labels join with '_', NULL-only rows are excluded (the
  *   SQL-standard EXCLUDE NULLS default), INTO NAME/VALUE default to
  *   `name`/`value`.
  */
object PivotStmt {
  private val KwRe = "(?i)\\b(PIVOT_WIDER|PIVOT_LONGER|UNPIVOT|PIVOT)\\b".r
  // scope openers a statement-form keyword can directly follow; an
  // identifier or ')' before PIVOT means the SQL-standard FROM-clause
  // postfix form, which Spark parses natively
  private val PrevWordOk =
    Set("UNION", "ALL", "DISTINCT", "INTERSECT", "EXCEPT", "NAME")

  /** True when the text starts with a statement-form keyword. */
  def leads(text: String): Boolean = KwRe.findPrefixMatchOf(text.trim).isDefined

  /** The first statement-form keyword in code; None = nothing to do. */
  def find(text: String): Option[scala.util.matching.Regex.Match] =
    KwRe.findAllMatchIn(text).find { m =>
      val trimmed = text.substring(0, m.start).reverse.dropWhile(_.isWhitespace)
      val after = text.substring(m.end).dropWhile(_.isWhitespace)
      SqlText.inCode(text, m.start) && (trimmed.isEmpty || trimmed.head == '(' || {
        val w = trimmed.takeWhile(c => c.isLetterOrDigit || c == '_').reverse
        w.nonEmpty && PrevWordOk(w.toUpperCase)
      } || {
        // after a subquery's `)`: the FROM-clause postfix form is
        // always followed by its '(' group — a following identifier
        // means the statement form
        trimmed.headOption.contains(')') && after.headOption.exists(c =>
          c.isLetter || c == '_' || c == '"')
      })
    }

  /** Rewrite the first statement-form occurrence; None = nothing to do. */
  def pass(spark: SparkSession, text: String,
      runSql: (SparkSession, String) => DataFrame): Option[String] =
    find(text).map { m =>
      val kw = m.group(1).toUpperCase
      val unpivot = kw == "UNPIVOT" || kw == "PIVOT_LONGER"
      rewriteAt(spark, text, m.start, m.end, unpivot, runSql)
    }

  // one CTE head up to its body's '(': name, optional column-alias
  // list, AS, optional [NOT] MATERIALIZED (the reference's
  // materialization hint — a no-op here: a CTE bound in the statement
  // scope is the materialization)
  private val CteHead =
    """(?is)^\s*([\p{L}\p{N}_]+)\s*(?:\(([^()]*)\))?\s*AS\s*(?:NOT\s+)?(?:MATERIALIZED\s*)?(?=\()""".r

  /** Parse a leading `WITH name[(cols)] AS (body) [, …]` list; returns
    * the (name, body-with-column-aliases) pairs and the remainder. */
  private[graft] def cteTail(text: String): Option[(Seq[(String, String)], String)] = {
    var i = "(?is)^\\s*WITH\\b".r.findFirstMatchIn(text).getOrElse(return None).end
    val ctes = Seq.newBuilder[(String, String)]
    var more = true
    while (more) {
      val head = CteHead.findFirstMatchIn(text.substring(i)).getOrElse(return None)
      val close = SqlText.matchParen(text, i + head.end)
      if (close < 0) return None
      val body = text.substring(i + head.end + 1, close)
      ctes += head.group(1) -> Option(head.group(2)).filter(_.trim.nonEmpty)
        .fold(body)(cols => s"SELECT * FROM ($body) AS __cte_t($cols)")
      val comma = "^\\s*,".r.findFirstMatchIn(text.substring(close + 1))
      i = close + 1 + comma.fold(0)(_.end)
      more = comma.isDefined
    }
    Some((ctes.result(), text.substring(i)))
  }

  // ------------------------------------------------------------ shared

  /** The statement region: from after the keyword to the ')' closing
    * the enclosing scope (exclusive) or end of text. */
  private def regionEnd(text: String, from: Int): Int = {
    val end = SqlText.findCode(text, from)((i, d) => d == 0 && ");".indexOf(text.charAt(i)) >= 0)
    if (end < 0) text.length else end
  }

  /** source relation after the keyword: `(query)` or a [quoted] name;
    * returns (dataframe-producing text?, name?, next index). */
  private def parseSource(text: String, from: Int): (String, Int) = {
    var i = from
    while (i < text.length && text.charAt(i).isWhitespace) i += 1
    if (i < text.length && text.charAt(i) == '(') {
      val close = SqlText.matchParen(text, i)
      (text.substring(i + 1, close), close + 1)
    } else if (i < text.length && text.charAt(i) == '"') {
      val end = SqlText.spanEnd(text, i)
      val name = SqlText.unquote(text.substring(i, end)).getOrElse(
        throw new IllegalArgumentException("PIVOT: unterminated quoted source name"))
      (s"SELECT * FROM `$name`", end)
    } else {
      val start = i
      while (i < text.length && (text.charAt(i).isLetterOrDigit ||
          text.charAt(i) == '_' || text.charAt(i) == '.')) i += 1
      require(i > start, "PIVOT: expected a source table or (query)")
      (s"SELECT * FROM ${text.substring(start, i)}", i)
    }
  }

  /** tail markers that bind to the RESULT, not the pivot spec */
  private def tailStart(spec: String): Int =
    Seq("ORDER BY", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")
      .map(topIndexOf(spec, _)).filter(_ >= 0) match {
        case Nil => spec.length
        case idxs => idxs.min
      }

  private def fragment(duckExpr: String): String =
    DuckDialect.translate(s"SELECT $duckExpr").stripPrefix("SELECT").trim

  private def splice(text: String, kwStart: Int, specEnd: Int,
      df: DataFrame, tail: String): String = {
    val view = StatementScope.get.fresh("__pivot_", df)
    text.substring(0, kwStart) + s"(SELECT * FROM $view) " + tail +
      text.substring(specEnd)
  }

  private def rewriteAt(spark: SparkSession, text: String, kwStart: Int,
      kwEnd: Int, unpivot: Boolean,
      runSql: (SparkSession, String) => DataFrame): String = {
    val (srcSql, afterSrc) = parseSource(text, kwEnd)
    val end = regionEnd(text, afterSrc)
    val clause = text.substring(afterSrc, end)
    val cut = tailStart(clause)
    val spec = clause.substring(0, cut).trim
    val tail = clause.substring(cut)
    val src = runSql(spark, srcSql)
    val out = if (unpivot) execUnpivot(spark, src, spec)
    else execPivot(spark, src, spec, runSql)
    splice(text, kwStart, end, out, tail)
  }

  // ------------------------------------------------------------- PIVOT

  private case class OnEntry(components: Seq[String], inList: Option[String])

  private def parseOnEntry(entry: String): OnEntry = {
    val inIdx = topIndexOf(entry, "IN")
    val (exprText, inList) =
      if (inIdx >= 0) {
        val after = entry.substring(inIdx + 2).trim
        require(after.startsWith("("), "PIVOT: IN expects a (…) list")
        (entry.substring(0, inIdx).trim,
          Some(after.stripPrefix("(").stripSuffix(")")))
      } else (entry.trim, None)
    val components =
      if (exprText.startsWith("(") && exprText.endsWith(")"))
        splitTop(exprText.stripPrefix("(").stripSuffix(")"), ',')
      else Seq(exprText)
    OnEntry(components, inList)
  }

  /** the value strings of one ON entry, in reference order: the IN
    * list verbatim (literals or subquery), else sorted distinct. */
  private def entryValues(spark: SparkSession, src: DataFrame, e: OnEntry,
      runSql: (SparkSession, String) => DataFrame): Seq[String] = e.inList match {
    case Some(body) if body.trim.toUpperCase.startsWith("SELECT") ||
        body.trim.toUpperCase.startsWith("WITH") =>
      runSql(spark, body).collect().toSeq
        .map(r => if (r.get(0) == null) "NULL" else r.get(0).toString)
    case Some(body) =>
      val exprs = splitTop(body, ',').map(fragment)
      spark.sql(s"SELECT ${exprs.mkString(", ")}").collect()(0)
        .toSeq.map(v => if (v == null) "NULL" else v.toString)
    case None =>
      // bounded discovery pass — pivot output columns are schema, so
      // every engine materializes this list (bind_pivot.cpp does the
      // same distinct scan, with its own pivot_limit guard)
      val one = e.components.map(c => expr(fragment(c)))
      val combined =
        if (one.length == 1) one.head
        else concat_ws("_", one.map(_.cast("string")): _*)
      val rows = src.select(combined.as("__pv")).distinct()
        .orderBy(col("__pv")).limit(10001).collect()
      require(rows.length <= 10000,
        "PIVOT: more than 10000 distinct pivot values — not a pivotable column")
      rows.toSeq.map(r => if (r.get(0) == null) "NULL" else r.get(0).toString)
  }

  private def execPivot(spark: SparkSession, src: DataFrame, spec: String,
      runSql: (SparkSession, String) => DataFrame): DataFrame = {
    val onIdx = topIndexOf(spec, "ON")
    val usingIdx = topIndexOf(spec, "USING")
    val groupIdx = topIndexOf(spec, "GROUP BY")
    def segEnd(from: Int): Int =
      Seq(usingIdx, groupIdx).filter(_ > from) match {
        case Nil => spec.length
        case xs => xs.min
      }
    val onText =
      if (onIdx < 0) "" else spec.substring(onIdx + 2, segEnd(onIdx)).trim
    val usingText =
      if (usingIdx < 0) ""
      else spec.substring(usingIdx + 5,
        if (groupIdx > usingIdx) groupIdx else spec.length).trim
    val groupText =
      if (groupIdx < 0) "" else spec.substring(groupIdx + 8).trim

    val entries = splitTop(onText, ',').map(parseOnEntry)
    // USING list: `agg [AS alias]`, trailing comma tolerated
    val aggs: Seq[(String, Option[String])] = splitTop(usingText, ',').map { a =>
      val asIdx = topIndexOf(a, "AS")
      if (asIdx >= 0)
        (a.substring(0, asIdx).trim,
          Some(a.substring(asIdx + 2).trim.stripPrefix("\"").stripSuffix("\"")))
      else (a.trim, None)
    }

    // group-by columns: explicit, else (with ON) every column not
    // pivoted and not consumed by an aggregate, else none
    val onCols = entries.flatMap(_.components)
      .filter(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
    val grouped: Seq[String] =
      if (groupText.nonEmpty)
        splitTop(groupText, ',').map(_.stripPrefix("\"").stripSuffix("\""))
      else if (entries.isEmpty) Nil
      else {
        val consumed = aggs.map(_._1.toLowerCase)
        src.columns.toSeq
          .filterNot(c => onCols.exists(_.equalsIgnoreCase(c)))
          .filterNot(c => consumed.exists(_.matches(
            s"(?s).*\\b${java.util.regex.Pattern.quote(c.toLowerCase)}\\b.*")))
      }

    if (entries.isEmpty) {
      // no ON: plain grouped aggregate (or DISTINCT group columns)
      if (aggs.isEmpty) return src.select(grouped.map(col): _*).distinct()
      val aggCols = aggs.map { case (a, al) =>
        val c = expr(fragment(a)); al.map(c.as).getOrElse(c)
      }
      return src.groupBy(grouped.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    }

    // pivot column: the '_'-joined string of every ON component; the
    // value list is the cartesian product across entries
    val components = entries.flatMap(_.components).map(c => expr(fragment(c)))
    val pivotCol =
      if (components.length == 1) components.head.cast("string")
      else concat_ws("_", components.map(_.cast("string")): _*)
    val perEntry = entries.map(e => entryValues(spark, src, e, runSql))
    val values = perEntry.reduceLeft[Seq[String]] { (acc, nxt) =>
      acc.flatMap(a => nxt.map(b => s"${a}_$b"))
    }

    val gb = src.groupBy(grouped.map(col): _*).pivot(pivotCol, values)
    val out = aggs match {
      case Nil => gb.agg(count(lit(1)))
      case Seq((a, None)) => gb.agg(expr(fragment(a)))
      case Seq((a, Some(al))) =>
        // single aliased agg: the reference names cells value_alias
        val df = gb.agg(expr(fragment(a)))
        values.foldLeft(df)((d, v) => d.withColumnRenamed(v, s"${v}_$al"))
      case many =>
        val cols = many.zipWithIndex.map { case ((a, al), i) =>
          expr(fragment(a)).as(al.getOrElse(s"agg_$i"))
        }
        gb.agg(cols.head, cols.tail: _*)
    }
    out
  }

  // ----------------------------------------------------------- UNPIVOT

  private def execUnpivot(spark: SparkSession, src: DataFrame,
      spec0: String): DataFrame = {
    val intoIdx = topIndexOf(spec0, "INTO")
    val (onPart, intoPart) =
      if (intoIdx >= 0) (spec0.substring(0, intoIdx), spec0.substring(intoIdx + 4))
      else (spec0, "")
    val onIdx = topIndexOf(onPart, "ON")
    require(onIdx >= 0, "UNPIVOT: expected ON <columns>")
    val onText = onPart.substring(onIdx + 2).trim

    def schemaCase(name: String): String = {
      val bare = name.stripPrefix("\"").stripSuffix("\"")
      src.columns.find(_.equalsIgnoreCase(bare)).getOrElse(bare)
    }

    // entries: column | (tuple) | COLUMNS('re') | * EXCLUDE (…)
    val ColsRe = "(?i)^COLUMNS\\s*\\(\\s*'(.*)'\\s*\\)$".r
    var entries: Seq[(Seq[String], String)] =
      if (onText.startsWith("*")) {
        val ex = "(?is)\\*\\s*EXCLUDE\\s*\\(([^)]*)\\)".r
          .findFirstMatchIn(onText)
          .map(m => splitTop(m.group(1), ',').map(schemaCase).toSet)
          .getOrElse(Set.empty)
        src.columns.toSeq.filterNot(ex).map(c => (Seq(c), c))
      } else splitTop(onText, ',').flatMap { entry0 =>
        val asIdx = topIndexOf(entry0, "AS")
        val (entry, alias) =
          if (asIdx >= 0)
            (entry0.substring(0, asIdx).trim, Some(entry0.substring(asIdx + 2)
              .trim.stripPrefix("\"").stripSuffix("\"")))
          else (entry0.trim, None)
        entry match {
          case ColsRe(re) =>
            val p = java.util.regex.Pattern.compile(re)
            src.columns.toSeq.filter(c => p.matcher(c).find())
              .map(c => Seq(c) -> alias.getOrElse(c))
          case t if t.startsWith("(") && t.endsWith(")") =>
            val cs = splitTop(t.stripPrefix("(").stripSuffix(")"), ',')
              .map(schemaCase)
            Seq(cs -> alias.getOrElse(cs.mkString("_")))
          case c =>
            val sc = schemaCase(c)
            Seq(Seq(sc) -> alias.getOrElse(sc))
        }
      }
    require(entries.nonEmpty, "UNPIVOT: no columns to unpivot")
    val k = entries.head._1.length
    require(entries.forall(_._1.length == k), "UNPIVOT value count mismatch")

    // INTO NAME n VALUE v [, …] (defaults name/value)
    val NameRe = "(?is)\\s*NAME\\s+(\"[^\"]+\"|\\w+)".r
    val nameCol = NameRe.findFirstMatchIn(intoPart)
      .map(_.group(1).stripPrefix("\"").stripSuffix("\"")).getOrElse("name")
    val valueCols: Seq[String] = {
      val vIdx = "(?i)\\bVALUES?\\b".r.findFirstMatchIn(intoPart)
      vIdx.map(m => splitTop(intoPart.substring(m.end), ',')
          .map(_.stripPrefix("\"").stripSuffix("\"")))
        .getOrElse(if (k == 1) Seq("value") else (1 to k).map(i => s"value_$i"))
    }
    require(valueCols.length == k, "UNPIVOT name count mismatch")

    val consumed = entries.flatMap(_._1).toSet
    val ids = src.columns.toSeq.filterNot(consumed)
    // unify value types across entries (the reference promotes; a
    // mixed set falls back to string)
    val types = (0 until k).map { i =>
      val ts = entries.map(e => src.schema(e._1(i)).dataType).distinct
      if (ts.length == 1) None else Some("string")
    }
    val slices = entries.map { case (cs, label) =>
      val vals = cs.zipWithIndex.map { case (c, i) =>
        val base = col(s"`$c`")
        types(i).map(base.cast).getOrElse(base).as(valueCols(i))
      }
      src.select(ids.map(c => col(s"`$c`")) ++
        Seq(lit(label).as(nameCol)) ++ vals: _*)
    }
    val unioned = slices.reduce(_.unionAll(_))
    // SQL-standard EXCLUDE NULLS default: drop rows with only NULLs
    unioned.filter(valueCols.map(v => col(s"`$v`").isNotNull).reduce(_ || _))
  }
}
