package graft.plans

import org.apache.spark.sql.SparkSession

/** The reference's dynamic-relation table functions, resolved at
  * translate time (all four are constant-argument in the reference —
  * its binder inlines them before planning, which is exactly what a
  * textual rewrite through the front door reproduces):
  *
  *  - `query('<sql>')` — run a constant SQL string as a relation
  *    (/root/reference/src/function/table/query_function.cpp;
  *    test/sql/catalog/function/query_function.test). Single SELECT
  *    statements only, like the reference's binder check.
  *  - `query_table(name | 'name' | "name" | [t1, t2, …] [, by_name])`
  *    — union the named tables; `by_name=true` unions by column name
  *    with NULL fill (same file). A trailing `::VARCHAR` cast is
  *    stripped — the macro_query_table.test idiom passes macro
  *    parameters as `tbl::VARCHAR`.
  *  - `repeat(value, count)` as a RELATION — `count` rows of `value`,
  *    output column named by the value's literal text
  *    (src/function/table/repeat.cpp RepeatBind pushes
  *    `inputs[0].ToString()` as the name).
  *  - `repeat_row(v1, …, num_rows=N)` — N copies of the tuple,
  *    columns `column0…` (src/function/table/repeat_row.cpp).
  *
  * All rewrites produce `(SELECT …)` derived tables / plain relation
  * names, so they compose with aliases, joins, and the rest of the
  * dialect pipeline on re-entry. Only occurrences directly after
  * FROM/JOIN/`,` in a from-list are relations — `repeat('x', 3)` in a
  * select list stays the scalar string function.
  */
object TableFns {

  /** Rewrite the first table-function relation found; the caller
    * re-enters the front door, so chained/nested uses resolve one per
    * pass. None when the text carries none.
    */
  def pass(spark: SparkSession, text: String): Option[String] = {
    val Re = "(?i)\\b(FROM|JOIN)\\s+(query_table|query|repeat_row|repeat)\\s*\\(".r
    Re.findAllMatchIn(text).foreach { m =>
      if (SqlText.inCode(text, m.start)) {
        val open = text.indexOf('(', m.start(2))
        val close = SqlText.matchParen(text, open)
        val args = text.substring(open + 1, close)
        val fn = m.group(2).toLowerCase
        val repl = fn match {
          case "query"       => rewriteQuery(args)
          case "query_table" => rewriteQueryTable(spark, args)
          case "repeat"      => rewriteRepeat(args)
          case "repeat_row"  => rewriteRepeatRow(args)
        }
        return Some(text.substring(0, m.start(2)) + repl +
          text.substring(close + 1))
      }
    }
    None
  }

  private def rewriteQuery(args: String): String = {
    val inner0 = SqlText.decode(args).getOrElse(throw new IllegalArgumentException(
      "Parser Error: Expected a single SELECT statement — query() takes " +
      "one constant VARCHAR argument"))
    // strip comments and trailing semicolons, reject multi-statement
    val stmts = SqlText.splitTop(SqlText.stripComments(inner0), ';')
    if (stmts.length != 1) throw new IllegalArgumentException(
      "Parser Error: Expected a single SELECT statement")
    val stmt = stmts.head
    val head = stmt.split("\\s+|\\(", 2).head.toUpperCase
    if (!Set("SELECT", "FROM", "WITH", "VALUES").contains(head))
      throw new IllegalArgumentException(
        "Parser Error: Expected a single SELECT statement")
    val sel = if (head == "FROM") s"SELECT * $stmt" else stmt
    s"($sel)"
  }

  /** A table name as it may appear in query_table args: bare
    * identifier, 'string', or "quoted identifier"; a trailing
    * ::VARCHAR cast (macro idiom) is stripped first. */
  private def tableName(arg0: String): String = {
    // macro parameter substitution parenthesizes and casts the arg:
    // `query_table((qt1)::VARCHAR)` — peel both layers
    var arg = arg0.trim
    var peeled = true
    while (peeled) {
      val next = arg.replaceAll("(?is)::\\s*VARCHAR\\s*$", "").trim
      val unparen =
        if (next.startsWith("(") && next.endsWith(")") &&
            SqlText.matchParen(next, 0) == next.length - 1)
          next.substring(1, next.length - 1).trim
        else next
      peeled = unparen != arg
      arg = unparen
    }
    if (arg.isEmpty || arg.equalsIgnoreCase("NULL"))
      throw new IllegalArgumentException(
        "Binder Error: query_table: Cannot use NULL or empty table name")
    val name = SqlText.decode(arg).getOrElse {
      if (arg.length >= 2 && arg.head == '"' && arg.last == '"')
        arg.substring(1, arg.length - 1).replace("\"\"", "\"")
      else arg
    }
    if (name.matches("[A-Za-z_]\\w*(\\.[A-Za-z_]\\w*)*")) name
    // the rewrite re-enters the DIALECT front door — identifiers are
    // double-quoted there (the translator maps them to backticks)
    else "\"" + name.replace("\"", "\"\"") + "\""
  }

  private def rewriteQueryTable(
      spark: SparkSession, args0: String): String = {
    val parts = SqlText.splitTop(args0, ',')
      .filter(_.nonEmpty)
    if (parts.isEmpty) throw new IllegalArgumentException(
      "Binder Error: No function matches 'query_table()'")
    val (listPart, byName) = parts.last.toLowerCase match {
      case "true"  => (parts.dropRight(1), true)
      case "false" => (parts.dropRight(1), false)
      case _       => (parts, false)
    }
    if (listPart.length != 1) throw new IllegalArgumentException(
      "Binder Error: query_table takes one table name or one list of " +
      "table names (plus an optional by_name flag)")
    val arg = listPart.head
    val names: Seq[String] =
      if (arg.startsWith("[") && arg.endsWith("]"))
        SqlText.splitTop(arg.substring(1, arg.length - 1), ',').map(tableName)
      else Seq(tableName(arg))
    if (names.isEmpty) throw new IllegalArgumentException(
      "Binder Error: query_table: empty table list")
    if (names.length == 1) names.head
    else if (byName)
      "(" + names.map(n => s"SELECT * FROM $n")
        .mkString(" UNION ALL BY NAME ") + ")"
    else {
      // positional union follows the reference's type ladder: a
      // position mixing VARCHAR with anything unifies to VARCHAR
      // (Spark's ANSI union would instead cast the string side to the
      // numeric type and fail on non-numeric data). Probe the schemas
      // and spell the casts.
      val schemas = names.map { n =>
        // a name Spark cannot resolve keeps the plain union arm, which
        // then raises Spark's own error for it
        try Some(spark.table(n.replace("\"", "`")).schema)
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      }
      val arms =
        if (schemas.forall(_.isDefined) &&
            schemas.flatten.map(_.length).distinct.size == 1) {
          val fields = schemas.flatten
          val width = fields.head.length
          val toStr = (0 until width).map { i =>
            val tys = fields.map(_.fields(i).dataType).distinct
            tys.size > 1 &&
              tys.contains(org.apache.spark.sql.types.StringType)
          }
          names.zip(fields).map { case (n, sch) =>
            val cols = sch.fields.zipWithIndex.map { case (f, i) =>
              val q = "\"" + f.name.replace("\"", "\"\"") + "\""
              if (toStr(i)) s"CAST($q AS VARCHAR) AS $q" else q
            }.mkString(", ")
            s"SELECT $cols FROM $n"
          }
        } else names.map(n => s"SELECT * FROM $n")
      "(" + arms.mkString(" UNION ALL ") + ")"
    }
  }

  private def rewriteRepeat(args0: String): String = {
    val parts = SqlText.splitTop(args0, ',')
    if (parts.length != 2) throw new IllegalArgumentException(
      "Binder Error: repeat table function takes (value, count)")
    val (v, n) = (parts(0), parts(1))
    if (n.equalsIgnoreCase("NULL")) throw new IllegalArgumentException(
      "Binder Error: Repeat second parameter cannot be NULL")
    if (n.matches("-\\s*\\d+")) throw new IllegalArgumentException(
      "Binder Error: Repeat second parameter cannot be be less than 0")
    // output column named by the value's text, like RepeatBind's
    // Value::ToString (literal strings drop their quotes)
    val colName = SqlText.decode(v).getOrElse(v).replace("\"", "\"\"")
    s"""(SELECT $v AS "$colName" FROM range($n))"""
  }

  private def rewriteRepeatRow(args0: String): String = {
    val parts = SqlText.splitTop(args0, ',')
      .filter(_.nonEmpty)
    val NumRows = "(?is)^num_rows\\s*(?::?=|=>)\\s*(.+)$".r
    val (rows, cols) = parts.partition(NumRows.findFirstIn(_).isDefined)
    if (rows.isEmpty) throw new IllegalArgumentException(
      "Binder Error: repeat_rows requires num_rows to be specified")
    if (cols.isEmpty) throw new IllegalArgumentException(
      "Binder Error: repeat_rows requires at least one column to be " +
      "specified")
    val n = NumRows.findFirstMatchIn(rows.head).get.group(1)
    val sel = cols.zipWithIndex
      .map { case (c, i) => s"$c AS column$i" }.mkString(", ")
    s"(SELECT $sel FROM range($n))"
  }
}
