package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** SQL session variables — the reference's `SET VARIABLE name = expr`
  * / `RESET VARIABLE name` statements and the `getvariable('name')`
  * scalar (/root/reference/src/parser/statement/set_statement.cpp,
  * src/function/scalar/generic/getvariable.cpp; semantics pinned
  * against test/sql/variables/test_variables.test):
  *
  *   - SET VARIABLE evaluates the right-hand side eagerly as a
  *     single value (scalar subqueries included); more than one
  *     row/column is the reference's "can only handle a single
  *     value" error.
  *   - getvariable('x') is a BIND-TIME constant: the front door
  *     splices the stored value in as a literal before Catalyst ever
  *     sees the text (the reference folds it in the binder the same
  *     way). An unset variable reads as NULL.
  *   - `duckdb_variables()` / SHOW VARIABLES list (name, value, type)
  *     with the reference's type spellings (queries.DuckTypes).
  *
  * JVM-global like the session itself (same scoping as the macro
  * registry and prepared statements).
  */
object Variables {

  /** stored value: SQL literal rendering + display text + duck type */
  final case class VarVal(literal: String, display: String, duckType: String)

  private val vars = new ConcurrentHashMap[String, VarVal]()

  val SetVarRe =
    """(?is)^\s*SET\s+VARIABLE\s+(\w+)\s*=\s*(.+?)\s*;?\s*$""".r
  val ResetVarRe = """(?is)^\s*RESET\s+VARIABLE\s+(\w+)\s*;?\s*$""".r
  val ShowVarRe = """(?is)^\s*SHOW\s+VARIABLES\s*;?\s*$""".r

  def set(spark: SparkSession, name: String, exprText: String): Unit = {
    val df = graft.GraftSql.sql(spark, s"SELECT ${exprText.trim} AS __v")
    require(df.columns.length == 1,
      "SET VARIABLE can only handle a single value")
    val rows = df.limit(2).collect()
    require(rows.length <= 1,
      "SET VARIABLE can only handle a single value")
    val v = if (rows.isEmpty) null else rows(0).get(0)
    val dt = df.schema.fields(0).dataType
    vars.put(name.toLowerCase,
      VarVal(renderLiteral(v, dt), renderDisplay(v),
        graft.queries.DuckTypes.name(dt)))
  }

  def reset(name: String): Unit = vars.remove(name.toLowerCase)

  def clearAll(): Unit = vars.clear()

  /** (name, value, type) rows — duckdb_variables() / SHOW VARIABLES. */
  def listDf(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    val sorted = {
      val b = scala.collection.mutable.ArrayBuffer.empty[(String, VarVal)]
      vars.forEach((k, v) => b += ((k, v)))
      b.sortBy(_._1)
    }
    sorted.foreach { case (k, v) => rows.add(Row(k, v.display, v.duckType)) }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("value", StringType, nullable = true),
      StructField("type", StringType, nullable = false))))
  }

  /** Splice `getvariable('x')` calls as literals (bind-time
    * constant-fold), and `duckdb_variables()` / `duckdb_secrets()` as
    * their listing bound in the statement scope, skipping
    * string-literal spans. Returns the text unchanged when
    * neither appears (the common path stays zero-cost).
    */
  def substitute(spark: SparkSession, text: String): String = {
    val lower = text.toLowerCase
    if (!lower.contains("getvariable") && !lower.contains("duckdb_variables") &&
        !lower.contains("duckdb_secrets"))
      return text
    SqlText.mapWords(text) { (start, end) =>
      var j = end
      while (j < text.length && text.charAt(j).isWhitespace) j += 1
      val word = text.substring(start, end).toLowerCase
      lazy val close = SqlText.matchParen(text, j)
      if (j == text.length || text.charAt(j) != '(') None
      else word match {
        case "getvariable" =>
          val arg = text.substring(j + 1, close)
          val name = SqlText.decode(arg).getOrElse(throw new IllegalArgumentException(
            s"getvariable: expected a string literal, got: ${arg.trim}"))
          Some(Option(vars.get(name.toLowerCase)).map(_.literal).getOrElse("NULL") -> (close + 1))
        case "duckdb_variables" =>
          Some(StatementScope.get.fresh("__duckdb_variables_", listDf(spark)) -> (close + 1))
        case "duckdb_secrets" =>
          Some(StatementScope.get.fresh("__duckdb_secrets_", Secrets.listDf(spark)) -> (close + 1))
        case _ => None
      }
    }
  }

  // ------------------------------------------------- literal rendering

  /** Render a collected value back to a SQL literal of its type. */
  private[graft] def renderLiteral(v: Any, dt: DataType): String = {
    import org.apache.spark.sql.types._
    if (v == null) return s"CAST(NULL AS ${dt.sql})"
    (v, dt) match {
      case (s: String, _) => SqlText.encode(s)
      case (d: java.sql.Date, _) => s"DATE '$d'"
      case (d: java.time.LocalDate, _) => s"DATE '$d'"
      case (t: java.sql.Timestamp, _) => s"TIMESTAMP '$t'"
      case (t: java.time.Instant, _) =>
        s"TIMESTAMP '${java.sql.Timestamp.from(t)}'"
      case (b: Array[Byte], _) => s"X'${b.map("%02X".format(_)).mkString}'"
      case (d: java.math.BigDecimal, _) =>
        s"CAST(${d.toPlainString} AS ${dt.sql})"
      case (d: BigDecimal, _) => s"CAST(${d.toString} AS ${dt.sql})"
      case (a: scala.collection.Seq[_], ArrayType(et, _)) =>
        s"array(${a.map(renderLiteral(_, et)).mkString(", ")})"
      case (r: Row, StructType(fields)) =>
        val parts = fields.zipWithIndex.map { case (f, k) =>
          s"'${f.name}', ${renderLiteral(r.get(k), f.dataType)}"
        }
        s"named_struct(${parts.mkString(", ")})"
      case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
        val parts = m.toSeq.flatMap { case (k, x) =>
          Seq(renderLiteral(k, kt), renderLiteral(x, vt))
        }
        s"map(${parts.mkString(", ")})"
      case (f: Float, _) => s"CAST($f AS FLOAT)"
      case (x, _) => x.toString // Int/Long/Double/Boolean/Short/Byte
    }
  }

  /** The reference's display rendering (what duckdb_variables shows):
    * lists as [a, b], strings bare.
    */
  private def renderDisplay(v: Any): String = v match {
    case null => null
    case a: scala.collection.Seq[_] =>
      s"[${a.map(renderDisplay).mkString(", ")}]"
    case x => x.toString
  }
}
