package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.plans.{DuckDialect, SqlText, StatementScope, TableMeta}
import graft.plans.SqlText.{matchParen, splitTop, topIndexOf}

/** Mutation statements through the dialect front door — the
  * reference's UPDATE / DELETE / INSERT … ON CONFLICT surface
  * (/root/reference/src/parser/statement/update_statement.cpp,
  * delete_statement.cpp, insert_statement.cpp — OnConflictInfo at
  * insert_statement.cpp:8; `INSERT OR REPLACE/IGNORE` are sugar for
  * ON CONFLICT DO UPDATE/DO NOTHING per the same header) routed to
  * the copy-on-write engine layer (sources/Dml).
  *
  * Statement text is parsed with a quote/paren-aware scanner at the
  * clause level; embedded expressions go through the full dialect
  * translator and resolve against the session registry, so dialect
  * spellings (`//`, `!`, list ops) work inside SET and WHERE.
  *
  * The target must be a catalog TABLE (the dialect's CREATE TABLE
  * writes managed parquet): DML rewrites the table's files in place,
  * which a view has none of. Each statement returns the reference's
  * result shape — a single `Count` column with the number of rows
  * changed (updated + inserted).
  */
object DmlSql {

  private val UpdateRe = """(?is)^\s*UPDATE\s+.*""".r
  private val DeleteRe = """(?is)^\s*DELETE\s+FROM\s+.*""".r
  private val InsertRe = """(?is)^\s*INSERT\s+.*""".r

  /** True for statements this object must run: all UPDATE/DELETE, and
    * the INSERT variants Spark's own INSERT INTO cannot express
    * (OR REPLACE / OR IGNORE / ON CONFLICT). Plain INSERT stays on
    * Spark's native path.
    */
  private val InsertTarget =
    """(?is)^\s*INSERT\s+(?:OR\s+\w+\s+)?INTO\s+"?([\w.]+)"?.*""".r

  def matches(text: String): Boolean = text match {
    case UpdateRe() | DeleteRe() => true
    case InsertRe() =>
      val up = text.toUpperCase
      up.matches("(?s)^\\s*INSERT\\s+OR\\s+(REPLACE|IGNORE)\\b.*") ||
        // INSERT INTO t DEFAULT VALUES (test_default_values.test)
        up.matches("(?s)^\\s*INSERT\\s+INTO\\s+\\S+\\s+DEFAULT\\s+VALUES\\b.*") ||
        topIndexOf(text, "ON CONFLICT") >= 0 ||
        topIndexOf(text, "RETURNING") >= 0 ||
        // tables with generated columns must insert through here so
        // the generated values are recomputed on every write
        (text match {
          case InsertTarget(t) => TableMeta.generated(t).nonEmpty
          case _ => false
        })
    case _ => false
  }

  def run(spark: SparkSession, text0: String): DataFrame = {
    // `… RETURNING <projection>` (reference insert_statement.cpp
    // returning_list; test/sql/returning/): the statement returns the
    // affected rows' projection instead of the Count row
    val retIdx = topIndexOf(text0, "RETURNING")
    // Only treat RETURNING as the clause when what follows can start a
    // projection — `UPDATE t SET returning = 1` uses the word as an
    // identifier and the remainder starts with an operator, not an
    // expression (r7 ADVICE).
    val retTail =
      if (retIdx >= 0)
        Some(text0.substring(retIdx + "RETURNING".length).trim.stripSuffix(";"))
          .filter(t => t.nonEmpty &&
            (t.head.isLetterOrDigit || "*('\"_".contains(t.head)))
      else None
    val (text, returning) = retTail match {
      case Some(t) => (text0.substring(0, retIdx), Some(t))
      case None    => (text0, None)
    }
    text match {
      case UpdateRe() => update(spark, text, returning)
      case DeleteRe() => delete(spark, text, returning)
      case _          => insertOnConflict(spark, text, returning)
    }
  }

  // ------------------------------------------------------------ UPDATE

  /** `UPDATE t SET c = e [, …] [WHERE cond]`. UPDATE … FROM (join
    * update) is not supported through the front door — use MERGE
    * semantics via INSERT … ON CONFLICT or the Dml API.
    */
  private def update(spark: SparkSession, text: String,
                     returning: Option[String]): DataFrame = {
    val afterVerb = text.trim.drop("UPDATE".length).trim
    val setIdx = topIndexOf(afterVerb, "SET")
    require(setIdx > 0, "UPDATE: missing SET clause")
    val table = stripAlias(afterVerb.substring(0, setIdx))
    val rest = afterVerb.substring(setIdx + 3)
    require(topIndexOf(rest, "FROM") < 0,
      "UPDATE ... FROM is not supported through the front door; " +
        "use INSERT ... ON CONFLICT or the Dml API for join updates")
    val whereIdx = topIndexOf(rest, "WHERE")
    val (setPart, wherePart) =
      if (whereIdx >= 0) (rest.substring(0, whereIdx), Some(rest.substring(whereIdx + 5)))
      else (rest, None)
    val sets = splitTop(setPart, ',').map(parseAssign)
    val cond = wherePart.map(w => expr(frag(w))).getOrElse(lit(true))
    val path = tablePath(spark, table)
    // generated columns recompute from the POST-update base values:
    // every set expression evaluates against the old row, so splicing
    // the set text in for each updated base reference computes the
    // post-image exactly (reference generated_columns/virtual/update)
    val gens = TableMeta.generated(table)
    val setTexts = sets.map { case (c, e) => c.toLowerCase -> frag(e) }.toMap
    gens.foreach { g =>
      require(!setTexts.contains(g.name.toLowerCase),
        s"UPDATE: cannot SET generated column ${g.name}")
    }
    val genSets = gens.map(g => g.name ->
      mapBareRefs(g.expr)(w => setTexts.get(w.toLowerCase).map(t => s"($t)")))
    val setMap = sets.map { case (c, e) => c -> expr(frag(e)) }.toMap ++
      genSets.map { case (c, e) => c -> expr(e) }.toMap
    val ret = returning.map { _ =>
      val t = spark.table(table)
      materialize(spark, t.where(cond).select(t.columns.map(c =>
        setMap.getOrElse(c, col(quote(c))).as(c)).toIndexedSeq: _*))
    }
    val stats = Dml.update(spark, path, cond, setMap)
    spark.catalog.refreshTable(table)
    (ret, returning) match {
      case (Some(rows), Some(proj)) => projectReturning(spark, rows, proj)
      case _ => countDf(spark, stats.rowsRewritten)
    }
  }

  // ------------------------------------------------------------ DELETE

  private def delete(spark: SparkSession, text: String,
                     returning: Option[String]): DataFrame = {
    val afterFrom = text.trim.drop("DELETE".length).trim.drop("FROM".length).trim
    val whereIdx = topIndexOf(afterFrom, "WHERE")
    val (tablePart, wherePart) =
      if (whereIdx >= 0) (afterFrom.substring(0, whereIdx), Some(afterFrom.substring(whereIdx + 5)))
      else (afterFrom, None)
    val table = stripAlias(tablePart)
    val path = tablePath(spark, table)
    val cond = wherePart.map(w => expr(frag(w))).getOrElse(lit(true))
    // RETURNING on DELETE is the deleted rows' pre-image
    val ret = returning.map(_ => materialize(spark, spark.table(table).where(cond)))
    val stats = Dml.delete(spark, path, cond)
    spark.catalog.refreshTable(table)
    (ret, returning) match {
      case (Some(rows), Some(proj)) => projectReturning(spark, rows, proj)
      case _ => countDf(spark, stats.rowsRewritten)
    }
  }

  // ----------------------------------------------- INSERT … ON CONFLICT

  /** `INSERT [OR REPLACE|OR IGNORE] INTO t [(cols)] <VALUES…|SELECT…>
    * [ON CONFLICT [(keys)] DO NOTHING | DO UPDATE SET …]`. The
    * conflict key defaults to the PRIMARY KEY recorded from the
    * table's dialect DDL (TableMeta), exactly like the reference
    * binds the table's unique index when no target is spelled.
    */
  private def insertOnConflict(spark: SparkSession, text: String,
                               returning: Option[String]): DataFrame = {
    var rest = text.trim.drop("INSERT".length).trim
    var mode: String = null // "replace" | "ignore" | null
    if (rest.toUpperCase.startsWith("OR ")) {
      rest = rest.drop(2).trim
      val up = rest.toUpperCase
      if (up.startsWith("REPLACE")) { mode = "replace"; rest = rest.drop("REPLACE".length).trim }
      else if (up.startsWith("IGNORE")) { mode = "ignore"; rest = rest.drop("IGNORE".length).trim }
      else throw new IllegalArgumentException(s"INSERT OR: expected REPLACE or IGNORE")
    }
    require(rest.toUpperCase.startsWith("INTO"), "INSERT: missing INTO")
    rest = rest.drop("INTO".length).trim
    // table name, then optional (col, …) list
    val nameEnd = rest.indexWhere(c => c.isWhitespace || c == '(')
    val table = rest.substring(0, if (nameEnd < 0) rest.length else nameEnd)
    rest = rest.substring(table.length).trim
    var insertCols: Seq[String] = Nil
    if (rest.startsWith("(") && {
      val inner = rest.substring(1, matchParen(rest, 0))
      !inner.toUpperCase.trim.startsWith("SELECT") && !inner.toUpperCase.trim.startsWith("VALUES")
    }) {
      val close = matchParen(rest, 0)
      insertCols = rest.substring(1, close).split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
      rest = rest.substring(close + 1).trim
    }
    // split off the ON CONFLICT tail
    val ocIdx = topIndexOf(rest, "ON CONFLICT")
    val (srcPart, conflictPart) =
      if (ocIdx >= 0) (rest.substring(0, ocIdx), Some(rest.substring(ocIdx + "ON CONFLICT".length)))
      else (rest, None)

    val path = tablePath(spark, table)
    val target = spark.table(table)
    val targetCols = target.columns.toSeq
    // generated columns are never insert targets — positional VALUES
    // map onto the physical columns only, and the generated values
    // recompute below (reference generated_columns semantics)
    val genNames = TableMeta.generated(table).map(_.name.toLowerCase).toSet
    val physCols = targetCols.filterNot(c => genNames(c.toLowerCase))
    insertCols.foreach(c => require(!genNames(c.toLowerCase),
      s"INSERT: cannot insert into generated column $c"))
    // INSERT INTO t DEFAULT VALUES (test_default_values.test): ONE
    // row, every physical column from its recorded DEFAULT (NULL when
    // none); naming target columns with it is a parse error there too
    val defaultValues = srcPart.trim.matches("(?is)^DEFAULT\\s+VALUES\\s*;?\\s*$")
    if (defaultValues) require(insertCols.isEmpty,
      "Parser Error: INSERT ... DEFAULT VALUES cannot name target columns")
    val cols =
      if (defaultValues) Seq.empty[String]
      else if (insertCols.nonEmpty) insertCols else physCols

    // source rows: VALUES list or a query, positional-renamed and
    // cast to the target schema like any INSERT; unnamed columns fill
    // their recorded DEFAULT (create_statement.cpp DefaultValue), or
    // NULL when none
    val defaults = TableMeta.columnDefaults(table)
    val renamed =
      if (defaultValues) spark.range(1).select()
      else {
        val raw =
          if (srcPart.trim.toUpperCase.startsWith("VALUES"))
            spark.sql(DuckDialect.translate(s"SELECT * FROM (${srcPart.trim}) AS __v(${cols.map(quote).mkString(", ")})"))
          else graft.GraftSql.sql(spark, srcPart.trim)
        require(raw.columns.length == cols.length,
          s"INSERT: ${cols.length} target columns but ${raw.columns.length} in source")
        raw.toDF(cols: _*)
      }
    val source0 = renamed.select(physCols.map { c =>
      if (cols.exists(_.equalsIgnoreCase(c)))
        col(quote(c)).cast(target.schema(c).dataType).as(c)
      else defaults.find(_._1.equalsIgnoreCase(c)) match {
        case Some((_, d)) => expr(frag(d)).cast(target.schema(c).dataType).as(c)
        case None => lit(null).cast(target.schema(c).dataType).as(c)
      }
    }: _*)
    // recompute generated columns and restore declared column order
    val source =
      if (genNames.isEmpty) source0
      else TableMeta.generated(table).foldLeft(source0) { (d, g) =>
        d.withColumn(g.name, expr(g.expr).cast(target.schema(g.name).dataType))
      }.select(targetCols.map(c => col(quote(c))): _*)

    // plain INSERT (no conflict clause, no OR mode): engine-layer
    // append with PK enforcement — reached when RETURNING or a
    // generated-column table routed it here
    if (conflictPart.isEmpty && mode == null) {
      val stats = Dml.insert(spark, path, source,
        TableMeta.primaryKey(table).getOrElse(Nil))
      spark.catalog.refreshTable(table)
      return returning match {
        case Some(proj) => projectReturning(spark, source, proj)
        case None => countDf(spark, stats.rowsInserted)
      }
    }

    // conflict action
    val (keys, action, assigns) = conflictPart match {
      case None =>
        val pk = TableMeta.primaryKey(table).getOrElse(throw new IllegalArgumentException(
          s"INSERT OR $mode: table $table has no recorded PRIMARY KEY; spell ON CONFLICT (cols)"))
        (pk, if (mode == "ignore") "nothing" else "replace", Nil)
      case Some(cp0) =>
        var cp = cp0.trim
        var keys: Seq[String] = Nil
        if (cp.startsWith("(")) {
          val close = matchParen(cp, 0)
          keys = cp.substring(1, close).split(',').map(_.trim).toSeq
          cp = cp.substring(close + 1).trim
        }
        if (keys.isEmpty)
          keys = TableMeta.primaryKey(table).getOrElse(throw new IllegalArgumentException(
            s"ON CONFLICT: no conflict target and no recorded PRIMARY KEY for $table"))
        val up = cp.toUpperCase
        if (up.startsWith("DO NOTHING")) (keys, "nothing", Nil)
        else if (up.startsWith("DO UPDATE SET")) {
          val setPart = cp.drop("DO UPDATE SET".length)
          require(topIndexOf(setPart, "WHERE") < 0,
            "ON CONFLICT ... DO UPDATE ... WHERE is not supported")
          (keys, "update", splitTop(setPart, ',').map(parseAssign))
        } else throw new IllegalArgumentException(
          s"ON CONFLICT: expected DO NOTHING or DO UPDATE SET, got: $cp")
    }

    val stats = action match {
      case "nothing" =>
        // batch-internal conflicts also ignore (first row wins);
        // matched rows pass through untouched and do NOT count —
        // the reference reports only the inserted rows
        val st = Dml.merge(spark, path, source.dropDuplicates(keys), keys, Map.empty)
        st.copy(rowsRewritten = 0)
      case "replace" =>
        // OR REPLACE ≡ DO UPDATE SET every non-key column = excluded's
        val set = targetCols.filterNot(keys.contains).map(c => c -> source(c)).toMap
        Dml.merge(spark, path, source.dropDuplicates(keys), keys, set)
      case "update" =>
        require(genNames.isEmpty,
          "ON CONFLICT DO UPDATE on a table with generated columns is not supported")
        // unqualified names in DO UPDATE SET read the existing row: the
        // merge join has both sides in scope, so qualify them with the
        // target alias (`excluded.…` passes through)
        val lower = targetCols.map(_.toLowerCase).toSet
        val set = assigns.map { case (c, e) =>
          c -> expr(mapBareRefs(frag(e))(w => Option.when(lower(w.toLowerCase))(s"t.$w")))
        }.toMap
        Dml.merge(spark, path, source, keys, set, targetAlias = "t")
    }
    spark.catalog.refreshTable(table)
    returning match {
      case Some(proj) if action == "replace" =>
        // OR REPLACE: every source row is an affected row post-action
        projectReturning(spark, source.dropDuplicates(keys), proj)
      case Some(_) =>
        throw new IllegalArgumentException(
          s"RETURNING with ON CONFLICT DO ${action.toUpperCase} is not supported")
      case None => countDf(spark, stats.rowsRewritten + stats.rowsInserted)
    }
  }

  // ------------------------------------------------------------ helpers

  /** Snapshot a DataFrame before the table's files are swapped out —
    * RETURNING materializes the affected rows to a temp location so
    * the projection never re-reads deleted files. RETURNING is a
    * result SET the client consumes; the snapshot is bounded by the
    * statement's own hit size, same as any engine's returned chunk
    * stream.
    */
  private def materialize(spark: SparkSession, df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_returning").toString
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    returningDirs.add(dir)
    Catalog.parquet(spark, dir)
  }

  /** RETURNING snapshot dirs, reaped at JVM exit so long sessions
    * don't accumulate unbounded temp parquet (r7 ADVICE). */
  private val returningDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
        f.delete(): Unit
      }
      returningDirs.forEach(d => del(new java.io.File(d)))
    }))
  }

  /** Apply the RETURNING projection through the front door — so `*`,
    * expressions, aliases and COLUMNS('re') all work (the reference
    * binds the returning list like a SELECT list). The affected rows
    * are bound in the statement scope for the projection.
    */
  private def projectReturning(spark: SparkSession, rows: DataFrame,
                               proj: String): DataFrame = {
    val v = StatementScope.get.fresh("__returning_", rows)
    graft.GraftSql.sql(spark, s"SELECT ${proj.trim} FROM $v")
  }

  /** Rebuilds `e` with each bare column reference (not qualified, not
    * a qualifier, not a call; literals skipped) replaced by `f(name)`
    * where that is defined — used to recompute generated columns from
    * post-update base values and to qualify DO UPDATE SET names.
    */
  private def mapBareRefs(e: String)(f: String => Option[String]): String =
    SqlText.mapWords(e) { (start, end) =>
      var j = end
      while (j < e.length && e.charAt(j).isWhitespace) j += 1
      val bare = (start == 0 || e.charAt(start - 1) != '.') &&
        (j == e.length || (e.charAt(j) != '(' && e.charAt(j) != '.'))
      if (bare) f(e.substring(start, end)).map(_ -> end) else None
    }

  /** Translate an expression fragment through the full dialect. */
  private def frag(e: String): String = {
    val out = DuckDialect.translate("SELECT " + e.trim)
    out.stripPrefix("SELECT").trim
  }

  /** Resolve a catalog table's storage path. Temp views have no
    * files to rewrite — refuse with direction.
    */
  private[graft] def tablePath(spark: SparkSession, table: String): String = {
    val cat = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    require(!cat.isTempView(id),
      s"DML target $table is a temporary view; DML needs a TABLE " +
        "(CREATE TABLE through the front door, or the Dml API on a parquet path)")
    cat.getTableMetadata(id).location.toString
  }

  private def stripAlias(s: String): String = {
    val parts = s.trim.split("\\s+")
    parts(0)
  }

  private def parseAssign(s: String): (String, String) = {
    val eq = s.indexOf('=')
    require(eq > 0, s"expected `col = expr`, got: $s")
    (s.substring(0, eq).trim.stripPrefix("\"").stripSuffix("\""), s.substring(eq + 1).trim)
  }

  private def quote(c: String): String = s"`$c`"

  private def countDf(spark: SparkSession, n: Long): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(Row(n)),
      StructType(Seq(StructField("Count", LongType, nullable = false))))
}
