package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.plans.{AsofSql, DuckDialect, PivotStmt, SqlText, StatementScope}
import graft.plans.{StatementSurface => S}

/** The DuckDB-dialect front door: run the reference engine's query
  * text verbatim. `sql` translates the dialect-specific spellings
  * (plans/DuckDialect) and hands the result to Catalyst. Each
  * statement runs in its own plans/StatementScope: a pass that
  * computes a relation binds it there, and `current_query()` reads the
  * statement as typed from it. Every statement pass here reads the
  * text through plans/SqlText, the one lexical rule: keywords, parens
  * and commas inside literals, quoted names and comments are never
  * code.
  */
object GraftSql {
  def translate(text: String): String = DuckDialect.translate(text)

  private val Summarize = """(?is)\s*SUMMARIZE\s+([\w.]+)\s*;?\s*""".r
  private val Describe = """(?is)\s*DESCRIBE\s+([\w.]+)\s*;?\s*""".r
  private val SummarizeAny = """(?is)\s*SUMMARIZE\s+(.+?);?\s*""".r
  private val DescribeAny = """(?is)\s*DESCRIBE\s+(.+?);?\s*""".r
  private[graft] val FromSuffixPivot =
    ("""(?is)^\s*(WITH\b.+?\))?\s*(?:SELECT\s+\*\s+)?FROM\s+([\w.]+)\s+PIVOT\s*\(\s*(.+?)\s+FOR\s+""" +
      """([\w.]+)\s+IN\s*\((.+?)\)\s*GROUP\s+BY\s+(.+?)\s*\)\s*;?\s*$""").r

  private val CreateView =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:(TEMP(?:ORARY)?)\s+)?VIEW\s+([\w."`]+)\s+AS\s+(.*)$""".r

  /** `inner LIMIT <pct> % [OFFSET <expr>]` at statement tail — the
    * percent operand is a number, a parenthesized expression of ANY
    * nesting depth (scalar subqueries), or a bare call (RANDOM()).
    * Hand-parsed: a regex cannot match arbitrarily nested parens.
    */
  private def limitPercentSplit(text0: String)
      : Option[(String, String, Option[String])] = {
    val text = text0.trim.stripSuffix(";")
    // the last top-level LIMIT
    var at = SqlText.topIndexOf(text, "LIMIT")
    if (at < 0) return None
    var later = SqlText.topIndexOf(text, "LIMIT", at + 5)
    while (later >= 0) { at = later; later = SqlText.topIndexOf(text, "LIMIT", at + 5) }
    var j = at + 5
    while (j < text.length && text.charAt(j).isWhitespace) j += 1
    val pctEnd =
      if (j < text.length && text.charAt(j) == '(') SqlText.matchParen(text, j) + 1
      else {
        val num = "^(\\d+(?:\\.\\d+)?)".r.findFirstIn(text.substring(j))
        val call = "^([A-Za-z_]\\w*\\s*\\()".r.findFirstMatchIn(text.substring(j))
        (num, call) match {
          case (Some(n), _) => j + n.length
          case (_, Some(c)) => SqlText.matchParen(text, j + c.group(1).length - 1) + 1
          case _ => return None
        }
      }
    if (pctEnd <= j) return None
    val pct = text.substring(j, pctEnd)
    j = pctEnd
    val afterPct = text.substring(j)
    val pm = "(?is)^\\s*(%|PERCENT)\\s*".r.findFirstMatchIn(afterPct)
      .getOrElse(return None)
    val rest = afterPct.substring(pm.end).trim
    val off =
      if (rest.isEmpty) None
      else "(?is)^OFFSET\\s+(.+)$".r.findFirstMatchIn(rest) match {
        case Some(om) => Some(om.group(1).trim)
        case None => return None // something else trails — not this form
      }
    Some((text.substring(0, at), pct, off))
  }
  private val Explain = """(?is)^\s*EXPLAIN(\s+ANALYZE)?\s+(.*)$""".r
  private val CheckpointRe = """(?is)^\s*(?:FORCE\s+)?CHECKPOINT\s*;?\s*$""".r
  private val AnalyzeRe = """(?is)^\s*ANALYZE(\s+[\w.]+)?\s*;?\s*$""".r
  private val CreateIndex =
    """(?is)^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+ON\s+(\w+)\s*\(([^)]*)\)\s*;?\s*$""".r
  private val DropIndex =
    """(?is)^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$""".r
  private val TxnBegin =
    """(?is)^\s*(?:BEGIN|START)(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val TxnCommit =
    """(?is)^\s*(?:COMMIT|END)(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val TxnRollback =
    """(?is)^\s*(?:ROLLBACK|ABORT)(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val PlainInsert =
    """(?is)^\s*INSERT\s+INTO\s+(\S+).*$""".r
  // COMMENT ON <kind> <target> IS '…'|NULL (reference
  // parser/statement/comment_on_statement.cpp): table/view comments
  // map to table properties, column comments to ALTER COLUMN; other
  // object kinds (SEQUENCE, TYPE, MACRO, …) have no Spark metadata
  // slot — accepted as a successful no-op (pure catalog annotation)
  private val CommentOn =
    """(?is)^\s*COMMENT\s+ON\s+(\w+)\s+([\w.`"]+)\s+IS\s+('(?:[^']|'')*'|NULL)\s*;?\s*$""".r

  /** The reference's lexer maps invisible unicode spaces to plain
    * spaces BEFORE parsing (test/sql/parser/invisible_spaces.test:
    * U+2000–U+200B, U+202F, U+3000, U+205F, U+FEFF, U+00A0) — inside
    * literals and quoted names they are data and must survive. */
  private val InvisibleSpace = "[\u2000-\u200B\u202F\u3000\u205F\uFEFF\u00A0]".r

  /** Run one statement. The outermost call opens the statement scope
    * and closes it when the statement's frame is analyzed; the
    * re-entries below join it. */
  def sql(spark: SparkSession, text00: String): DataFrame =
    StatementScope.run(text00)(statement(spark, text00))

  private def statement(spark: SparkSession, text00: String): DataFrame = {
    // comments go first: the statement layer's verb patterns would
    // read a trailing `-- note` as part of the statement
    val text0 = SqlText.stripComments(SqlText.replaceInCode(text00, InvisibleSpace)(_ => " "))
    // an empty / whitespace-only / comment-only statement is a no-op
    // (the reference's `statement ok` on a lone invisible space)
    if (text0.trim.isEmpty) return spark.emptyDataFrame
    // one statement per call: a script's later statements must not be
    // dropped in silence
    val statements = SqlText.splitTop(text0, ';').size
    if (statements > 1) throw new IllegalArgumentException(
      s"GraftSql.sql runs one statement, got $statements; run a script with GraftSql.runScript")
    // CREATE MACRO registers; every other statement gets macro calls
    // textually inlined first (the reference binder does the same)
    if (graft.plans.MacroReg.isCreate(text0)) {
      graft.plans.MacroReg.register(text0)
      return spark.emptyDataFrame
    }
    val text1 = graft.plans.MacroReg.expand(text0)
    // getvariable()/duckdb_variables() and ENUM machinery fold at
    // bind time — except in PREPARE bodies, which store raw text and
    // bind at EXECUTE
    val text = text1 match {
      case S.PrepareRe(_, _) => text1
      case _ =>
        graft.plans.EnumTypes.substitute(spark,
          graft.plans.Variables.substitute(spark, text1))
    }
    // CREATE VIEW … AS <a body the front door computes>: its text
    // reaches Spark only over names bound in this statement's scope, so
    // the view is registered from the analyzed frame — as a session
    // temp view under the last name part, also for a non-TEMP or
    // schema-qualified CREATE VIEW (the session has one view namespace).
    // A non-TEMP body that reads a temporary object goes the same way:
    // Spark's persistent CREATE VIEW rejects it.
    text match {
      case CreateView(temp, name, body)
          if eagerBody(body) || temp == null && readsTempObject(spark, body) =>
        val viewName = name.replace("\"", "").replace("`", "").split('.').last
        sql(spark, body).createOrReplaceTempView(viewName)
        return S.emptyDf(spark)
      case _ =>
    }
    // schema-aware dialect rewrites that need the session
    unionByNamePass(spark, text) match {
      case Some(v) => return sql(spark, v)
      case None =>
    }
    // NATURAL SEMI/ANTI JOIN (reference natural-join extension,
    // test/sql/join/natural): Spark's NATURAL covers inner/outer
    // only, so resolve the common columns from the catalog and emit
    // LEFT SEMI/ANTI ... USING
    locally {
      val v = naturalSemiAntiPass(spark, text)
      if (v != text) return sql(spark, v)
    }
    locally {
      val v = positionalJoinPass(spark, text)
      if (v != text) return sql(spark, v)
    }
    // postgres deferred-ON join nesting (`A join B join C on cInner
    // on cOuter`): parenthesize the inner joins for Spark's grammar
    locally {
      val v = graft.plans.SqlPasses.nestedJoinPass(text)
      if (v != text) return sql(spark, v)
    }
    // query()/query_table()/repeat()/repeat_row() table functions
    // (reference src/function/table/{query_function,repeat,repeat_row}
    // .cpp): constant-argument dynamic relations, inlined at translate
    // time exactly like the reference's binder — one rewrite per pass,
    // re-enter for chained/nested uses
    graft.plans.TableFns.pass(spark, text) match {
      case Some(v) => return sql(spark, v)
      case None =>
    }
    // FROM-suffix pivot carrying its own GROUP BY
    // (`FROM t PIVOT (agg FOR c IN (vals) GROUP BY g)`, the
    // pivot_6390 spelling): exactly the statement form PivotStmt
    // already implements — rewrite and re-enter
    text match {
      case FromSuffixPivot(cte, rel, agg, col, vals, grp) =>
        return sql(spark, s"${Option(cte).map(_ + " ").getOrElse("")}" +
          s"PIVOT $rel ON $col IN ($vals) USING $agg GROUP BY $grp")
      case _ =>
    }
    // `WITH ctes… <DML | statement PIVOT>`: the remainder runs outside
    // Spark's parser, so each CTE is bound in the statement scope
    // under its own name (the engine's CTE materialization; a later
    // body sees the earlier names) and the remainder runs
    cteBinding(text) match {
      case Some((ctes, rest)) =>
        ctes.foreach { case (name, body) => StatementScope.get.bind(name, sql(spark, body)) }
        return sql(spark, rest)
      case None =>
    }
    PivotStmt.pass(spark, text, sql) match {
      case Some(v) => return sql(spark, v)
      case None =>
    }
    subStatementPass(spark, text) match {
      case Some(v) => return sql(spark, v)
      case None =>
    }
    text match {
      // EXPLAIN [ANALYZE] <stmt> (reference
      // parser/statement/explain_statement.cpp): same result shape as
      // the reference — (explain_key, explain_value) string rows —
      // with Spark's plan text as the value. Plan rendering is
      // engine-specific by nature (documented; no oracle).
      case Explain(analyze, inner) =>
        return explain(spark, inner, analyze != null)
      // SET / RESET / PRAGMA / CALL / VACUUM / PREPARE / EXECUTE /
      // COPY / ATTACH / DETACH (reference statement verbs) → engine
      // analogs in plans/StatementSurface
      // SQL session variables (reference set_statement.cpp VARIABLE
      // scope + getvariable.cpp) — must match before the conf SET
      // CREATE TYPE … AS ENUM / DROP TYPE (reference create_type_info;
      // dictionary mapping in plans/EnumTypes)
      case graft.plans.EnumTypes.CreateTypeRe(name, vals) =>
        graft.plans.EnumTypes.register(name, vals)
        return S.emptyDf(spark)
      case graft.plans.EnumTypes.CreateAliasRe(name, ty) =>
        graft.plans.EnumTypes.registerAlias(name, ty)
        return S.emptyDf(spark)
      case graft.plans.EnumTypes.DropTypeRe(name) =>
        graft.plans.EnumTypes.drop(name)
        return S.emptyDf(spark)
      case graft.plans.Variables.SetVarRe(name, ex) =>
        graft.plans.Variables.set(spark, name, ex)
        return S.emptyDf(spark)
      case graft.plans.Variables.ResetVarRe(name) =>
        graft.plans.Variables.reset(name)
        return S.emptyDf(spark)
      case graft.plans.Variables.ShowVarRe() =>
        return graft.plans.Variables.listDf(spark)
      case S.SetRe(key, value) =>
        spark.conf.set(S.confKey(key), SqlText.decode(value).getOrElse(value.trim))
        return S.emptyDf(spark)
      case S.ResetRe(key) =>
        spark.conf.unset(S.confKey(key)); return S.emptyDf(spark)
      case S.PragmaCall(name, arg) =>
        return S.pragmaReport(spark, name, arg).getOrElse(
          throw new IllegalArgumentException(s"PRAGMA $name: not supported"))
      case S.PragmaAssign(name, value) =>
        spark.conf.set(S.confKey(name), SqlText.decode(value).getOrElse(value.trim))
        return S.emptyDf(spark)
      case S.PragmaBare(name) =>
        return S.pragmaReport(spark, name, "").getOrElse {
          spark.conf.set(S.confKey(name), "true"); S.emptyDf(spark)
        }
      case S.CallRe(name, arg) =>
        return S.pragmaReport(spark, name, arg).getOrElse(
          throw new IllegalArgumentException(s"CALL $name: not supported"))
      // CHECKPOINT / FORCE CHECKPOINT (reference checkpoint_statement
      // — flushes the WAL into the database file). This engine's
      // writes are durable parquet the moment the swap completes, so
      // there is nothing to flush: success no-op, like VACUUM on an
      // empty trash.
      case CheckpointRe() => return S.emptyDf(spark)
      // ANALYZE [table] (reference analyze ≡ recompute optimizer
      // stats): maps to Spark's COMPUTE STATISTICS where the target
      // is a catalog table; temp views / bare form are a no-op (the
      // reference's stats are storage-attached — nothing to persist).
      // A missing table raises.
      case AnalyzeRe(table) =>
        if (table != null && table.trim.nonEmpty)
          try spark.sql(s"ANALYZE TABLE ${table.trim} COMPUTE STATISTICS")
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getCondition == "EXPECT_PERMANENT_VIEW_NOT_TEMP" =>
          }
        return S.emptyDf(spark)
      // CREATE/DROP SEQUENCE (sequence_catalog_entry.cpp) — session
      // counters behind nextval()/currval() (plans/Sequences)
      case graft.plans.Sequences.CreateRe(orRepl, ifNot, name, opts) =>
        graft.plans.Sequences.create(orRepl != null, ifNot != null, name, opts)
        return S.emptyDf(spark)
      case graft.plans.Sequences.DropRe(ifEx, name) =>
        graft.plans.Sequences.drop(name, ifEx != null)
        return S.emptyDf(spark)
      case graft.plans.MacroReg.DropRe(ifEx, name) =>
        graft.plans.MacroReg.drop(name, ifEx != null)
        return S.emptyDf(spark)
      case CommentOn(kind, target0, value) =>
        val target = target0.replace("\"", "`")
        val comment = if (value.equalsIgnoreCase("NULL")) "''" else value
        kind.toUpperCase match {
          case "TABLE" | "VIEW" =>
            spark.sql(s"ALTER $kind $target SET TBLPROPERTIES('comment' = $comment)")
          case "COLUMN" =>
            val dot = target.lastIndexOf('.')
            require(dot > 0, "COMMENT ON COLUMN: expected table.column")
            spark.sql(s"ALTER TABLE ${target.substring(0, dot)} ALTER COLUMN " +
              s"${target.substring(dot + 1)} COMMENT $comment")
          case _ => // SEQUENCE/TYPE/MACRO/INDEX/DATABASE: no metadata slot
        }
        return S.emptyDf(spark)
      case S.VacuumRe(table) =>
        // the engine's space-reclaim analog is small-files compaction
        if (table.nonEmpty && !table.equalsIgnoreCase("ANALYZE")) {
          val st = graft.sources.Dml.compact(spark,
            graft.sources.DmlSql.tablePath(spark, table))
          spark.catalog.refreshTable(table)
          return S.countDf(spark, st.rowsRewritten)
        }
        return S.emptyDf(spark)
      case S.PrepareRe(name, stmt) =>
        S.prepare(name, stmt); return S.emptyDf(spark)
      case S.ExecuteRe(name, args) =>
        return sql(spark, S.executeText(name, Option(args)))
      case S.DeallocRe(name) =>
        S.deallocate(name); return S.emptyDf(spark)
      case S.AttachRe(path, name) =>
        require(!path.endsWith(".db") && !path.endsWith(".duckdb"),
          s"ATTACH: '$path' is a native DuckDB database file; attach a " +
            "directory of parquet tables (sources/Attach)")
        graft.sources.Attach.attach(spark, name, path)
        return S.emptyDf(spark)
      case S.DetachRe(name) =>
        graft.sources.Attach.detach(spark, name); return S.emptyDf(spark)
      // COPY FROM DATABASE a TO b (copy_database_statement.cpp) —
      // before the file COPY forms, whose regexes would not match the
      // unquoted database operand anyway
      case S.CopyDbRe(from, to, mode) =>
        return S.copyDatabase(spark, from, to,
          Option(mode).getOrElse("DATA"))
      // CREATE/DROP SECRET (reference secret manager; plans/Secrets)
      case graft.plans.Secrets.CreateRe(orRepl, persist, ifNot, name, body) =>
        graft.plans.Secrets.create(spark,
          orRepl != null, persist != null && persist.equalsIgnoreCase("PERSISTENT"),
          ifNot != null, Option(name).map(_.trim).filter(_.nonEmpty), body)
        return S.emptyDf(spark)
      case graft.plans.Secrets.DropRe(ifEx, name) =>
        graft.plans.Secrets.drop(name, ifEx != null)
        return S.emptyDf(spark)
      case S.CopyFromRe(table, source, opts1, opts2) =>
        return S.copyFrom(spark, table, source,
          Seq(opts1, opts2).filter(_ != null).mkString(" "))
      case S.CopyToRe(what, target, opts1, opts2) =>
        val df =
          if (what.trim.startsWith("(")) sql(spark, what.trim.stripPrefix("(").stripSuffix(")"))
          else spark.table(what.trim)
        return S.copyTo(spark, df, target,
          Seq(opts1, opts2).filter(_ != null).mkString(" "))
      // BEGIN / COMMIT / ROLLBACK (reference
      // transaction_statement.cpp) → file-level undo over the
      // copy-on-write DML layer (sources/Txn)
      case TxnBegin() =>
        graft.sources.Txn.begin(spark); return spark.emptyDataFrame
      case TxnCommit() =>
        graft.sources.Txn.commit(spark); return spark.emptyDataFrame
      case TxnRollback() =>
        graft.sources.Txn.rollback(spark); return spark.emptyDataFrame
      // a plain INSERT INTO inside an open transaction appends via
      // Spark's native path — touch the table first so ROLLBACK can
      // drop the appended files
      case PlainInsert(table) if graft.sources.Txn.isActive &&
          !graft.sources.DmlSql.matches(text) =>
        val insPath = graft.sources.DmlSql.tablePath(spark, table)
        graft.sources.Txn.touch(spark, insPath)
        val insOut = spark.sql(translate(text))
        graft.sources.Txn.wrote(spark, insPath)
        return insOut
      // ALTER TABLE column surgery (reference alter_statement.cpp):
      // v1 parquet can't mutate schemas in place — staged rewrite +
      // rename swap, DuckDB type names mapped through the dialect
      case S.AlterAdd(table, colName, ty, dflt) if !ty.trim.toUpperCase.startsWith("TO") =>
        val sparkTy = S.mapType(ty.trim)
        return S.alterRewrite(spark, table, df =>
          df.withColumn(colName,
            org.apache.spark.sql.functions.expr(
              Option(dflt).map(d => translate(s"SELECT $d").stripPrefix("SELECT").trim)
                .getOrElse("NULL")).cast(sparkTy)))
      case S.AlterDrop(table, colName) =>
        return S.alterRewrite(spark, table, _.drop(colName))
      case S.AlterRenameCol(table, from, to)
          if !from.equalsIgnoreCase("TO") && !spark.sessionState.catalog
            .isTempView(spark.sessionState.sqlParser.parseTableIdentifier(table)) &&
            spark.table(table).columns.exists(_.equalsIgnoreCase(from)) =>
        return S.alterRewrite(spark, table, _.withColumnRenamed(from, to))
      // CREATE/DROP INDEX → the bucketed-layout analog of the
      // reference's ART index (sources/Indexing)
      case CreateIndex(unique, name, table, cols) =>
        graft.sources.Indexing.createIndex(spark, name, table,
          cols.split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq,
          unique != null)
        return spark.emptyDataFrame
      case DropIndex(name) =>
        graft.sources.Indexing.dropIndex(spark, name)
        return spark.emptyDataFrame
      // DML verbs route to the copy-on-write engine layer
      // (sources/DmlSql → sources/Dml); plain INSERT INTO stays on
      // Spark's native path below.
      case _ if graft.sources.DmlSql.matches(text) =>
        return graft.sources.DmlSql.run(spark, text)
      // ASOF … USING (col) — at any depth — rewrites LAZILY to a
      // LATERAL top-1 probe (composes with correlated subqueries);
      // ASOF … ON is a Catalyst join (plans/AsofJoinRule)
      case _ if AsofSql.usingPass(text).isDefined =>
        return sql(spark, AsofSql.usingPass(text).get)
      case _ =>
    }
    limitPercentSplit(text) match {
      // LIMIT n% (reference percentage limit): top fraction of the
      // result — needs the total, so one counting pass then limit
      // (the q65 operator's own plan shape)
      case Some((inner, pctRaw, off)) =>
        // percentage of the PRE-offset total; a parenthesized percent
        // is a constant expression (the reference errors on column
        // references — Spark's analyzer does too, FROM-less here);
        // OFFSET skips first, then pct% of the total follows
        // (test_limit_percent.test:102 pinned: range(10) LIMIT 50%
        // OFFSET 2 = rows 2..6)
        // NULL percent means 100% and NULL offset means 0 (pinned:
        // `LIMIT (NULL)%` returns all rows in the reference); percent
        // outside [0,100] is OutOfRangeException, never a clamp
        // (bind_select_node.cpp / physical_limit_percent.cpp)
        def evalNum(raw: String, what: String, ifNull: Double): Double =
          if (raw.matches("""\d+(\.\d+)?""")) raw.toDouble
          else {
            val row = spark.sql(translate(s"SELECT CAST(($raw) AS DOUBLE)")).first
            if (row.isNullAt(0)) ifNull else row.getDouble(0)
          }
        val pct = evalNum(pctRaw, "percent", ifNull = 100.0)
        if (pct < 0.0 || pct > 100.0) throw new IllegalArgumentException(
          "Out of Range Error: Limit percent out of range, should be " +
          "between 0% and 100%")
        val df = spark.sql(translate(inner))
        val n = df.count()
        val keep = math.floor(n * pct / 100.0).toInt
        val base = off match {
          case Some(o) => df.offset(evalNum(o, "offset", ifNull = 0.0).toInt.max(0))
          case None => df
        }
        return base.limit(keep)
      case None =>
    }
    text match {
      // utility statements the reference treats as top-level verbs:
      // route to the engine's operators instead of Spark's parser
      // (Spark's own DESCRIBE renders Spark type names; the
      // reference's column set and type spellings come from the s16
      // entry's contract). SUMMARIZE <query> still goes through
      // translate+summarize via the match on the inner text.
      // the statement surface answers in the REFERENCE's column
      // layout (min/max/avg/std/q25..q75 as VARCHAR, approx_unique,
      // null_percentage — summarizeRef); the typed-split exact layout
      // stays on the operator API + the s10 oracle entry
      case Summarize(table) =>
        graft.operators.Summarize.summarizeRef(spark.table(table))
      case Describe(table) => describe(spark, spark.table(table))
      // general forms: DESCRIBE/SUMMARIZE <any statement> (the
      // reference's show_select — describe_subquery.test runs
      // `DESCRIBE SELECT …` and nested `DESCRIBE (DESCRIBE …)`)
      case DescribeAny(q) => describe(spark, sql(spark, q))
      case SummarizeAny(q) =>
        graft.operators.Summarize.summarizeRef(sql(spark, q))
      case _ =>
        translate(text) match {
          // Spark's v1 session catalog has no REPLACE TABLE — the
          // reference's CREATE OR REPLACE is a drop-then-create there
          case CreateOrReplace(name, rest) =>
            // Stage-then-swap (like alterRewrite/Indexing.createIndex):
            // `CREATE OR REPLACE TABLE t AS SELECT ... FROM t` is valid
            // in the reference, so the new contents must be fully
            // materialized BEFORE the old table is dropped — a naive
            // drop-then-create would destroy the input mid-statement.
            val staging = s"${name}__replace_build"
            spark.sql(s"DROP TABLE IF EXISTS $staging")
            spark.sql(s"CREATE TABLE $staging $rest")
            spark.sql(s"DROP TABLE IF EXISTS $name")
            spark.sql(s"ALTER TABLE $staging RENAME TO $name")
            spark.catalog.refreshTable(name)
            applyGenerated(spark, name)
            spark.emptyDataFrame
          case t =>
            // post-translate passes: star REPLACE + COLUMNS('re')
            // (schema-aware), then the schema-free SqlPasses
            val finalSql = graft.plans.SqlPasses.sparkText(
              columnsPass(spark, starReplacePass(spark, t)))
            val out =
              try spark.sql(finalSql)
              catch {
                // the reference coerces VALUES rows to the TARGET
                // column types (insert binder); Spark first unifies
                // the inline table and rejects mixed rows like
                // VALUES ('NAN'), (1) into a FLOAT column — retry
                // with explicit casts from the table's schema
                case e: Exception
                    if Option(e.getMessage).exists(_.contains("INVALID_INLINE_TABLE")) =>
                  insertValuesCast(spark, finalSql)
                    .orElse(mixedValuesCast(finalSql)) match {
                    case Some(rewritten) => spark.sql(rewritten)
                    case None => throw e
                  }
              }
            t match {
              case CreateTableName(nm) => applyGenerated(spark, nm)
              case _ =>
            }
            out
        }
    }
  }

  private val InsertValuesRe =
    """(?is)^\s*INSERT\s+INTO\s+([\w.`]+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+?)\s*;?\s*$""".r

  /** `INSERT INTO t [(cols)] VALUES rows` with every scalar cast to
    * its target column type (the reference's insert-binder coercion).
    */
  private def insertValuesCast(spark: SparkSession, sql: String): Option[String] =
    sql match {
      case InsertValuesRe(table, colList, rowsText) =>
        val schema = spark.table(table).schema
        val cols: Seq[org.apache.spark.sql.types.StructField] =
          Option(colList) match {
            case Some(cl) => SqlText.splitTop(cl, ',')
              .map(c => schema(schema.fieldIndex(
                c.trim.stripPrefix("`").stripSuffix("`"))))
            case None => schema.fields.toSeq
          }
        val rows = SqlText.splitTop(rowsText, ',').map { row0 =>
          val row = row0.trim
          if (!row.startsWith("(") || !row.endsWith(")")) return None
          val vals = SqlText.splitTop(row.stripPrefix("(").stripSuffix(")"), ',')
          if (vals.length != cols.length) return None
          vals.zip(cols).map { case (v, f) =>
            if (v.trim.equalsIgnoreCase("DEFAULT")) v
            else s"CAST(($v) AS ${f.dataType.sql})"
          }.mkString("(", ", ", ")")
        }
        val colsOut = Option(colList).map(cl => s" ($cl)").getOrElse("")
        Some(s"INSERT INTO $table$colsOut VALUES ${rows.mkString(", ")}")
      case _ => None
    }

  /** A mixed-type inline table OUTSIDE an INSERT (`FROM (VALUES
    * (-0.5), ('inf')) t(v)`): the reference unifies numeric + varchar
    * rows to DOUBLE ('inf' parses as infinity); Spark rejects the
    * inline table outright. Wrap the string literals of any column
    * that mixes numeric and string literals in CAST(… AS DOUBLE).
    */
  private def mixedValuesCast(sql: String): Option[String] = {
    val m = "(?is)\\bVALUES\\s*\\(".r.findFirstMatchIn(sql).getOrElse(return None)
    // collect the row groups
    var i = m.end - 1
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var going = true
    while (going && i < sql.length && sql.charAt(i) == '(') {
      val close = SqlText.matchParen(sql, i)
      if (close < 0) return None
      rows += ((i, close))
      var k = close + 1
      while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
      if (k < sql.length && sql.charAt(k) == ',') {
        k += 1
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        i = k
      } else going = false
    }
    if (rows.length < 2) return None
    val NumLit = """^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$""".r
    def isStr(v: String) = SqlText.decode(v).isDefined
    val cells = rows.map { case (o, c) => SqlText.splitTop(sql.substring(o + 1, c), ',') }
    val width = cells.map(_.length).max
    val mixedCols = (0 until width).filter { ci =>
      val col = cells.flatMap(_.lift(ci))
      col.exists(v => NumLit.findFirstIn(v).isDefined) &&
        col.exists(isStr)
    }.toSet
    if (mixedCols.isEmpty) return None
    val newRows = cells.map { row =>
      row.zipWithIndex.map { case (v, ci) =>
        if (mixedCols(ci) && isStr(v))
          s"CAST($v AS DOUBLE)"
        else v
      }.mkString("(", ", ", ")")
    }
    Some(sql.substring(0, rows.head._1) + newRows.mkString(", ") +
      sql.substring(rows.last._2 + 1))
  }

  private val DmlVerb = "(?is)^\\s*(UPDATE|DELETE|INSERT|MERGE)\\b".r

  /** The CTE list and remainder of a `WITH` statement whose remainder
    * the front door runs itself (a DML verb, a statement PIVOT); None
    * otherwise, and the WITH stays Spark's. */
  private[graft] def cteBinding(text: String): Option[(Seq[(String, String)], String)] =
    PivotStmt.cteTail(text).filter { case (_, rest) =>
      DmlVerb.findFirstIn(rest).isDefined || PivotStmt.leads(rest)
    }

  /** A view body the front door computes eagerly, or that names a
    * relation already bound in the statement scope. */
  private def eagerBody(body: String): Boolean =
    SqlText.findInCode(body, UnionByName).isDefined ||
      SqlText.findInCode(body, SubStmtRe).isDefined ||
      PivotStmt.find(body).isDefined ||
      cteBinding(body).isDefined || StatementScope.get.mentions(body)

  /** A view body whose translation reads a temporary object of the
    * session: a temp view, or a function the session injects
    * (plans/FunctionTable, the dialect's `graft_*` wrappers). A body
    * Spark cannot parse reads none. */
  private def readsTempObject(spark: SparkSession, body: String): Boolean = {
    val cat = spark.sessionState.catalog
    def reads(p: LogicalPlan): Boolean = (p match {
      case u: UnresolvedRelation => cat.isTempView(u.multipartIdentifier)
      case _ => false
    }) || p.expressions.exists(_.exists {
      case f: UnresolvedFunction =>
        f.nameParts.size == 1 && cat.isTemporaryFunction(FunctionIdentifier(f.nameParts.head))
      case s: SubqueryExpression => reads(s.plan)
      case _ => false
    }) || (p.children ++ p.innerChildren.collect { case c: LogicalPlan => c }).exists(reads)
    try reads(spark.sessionState.sqlParser.parseQuery(translate(body.trim.stripSuffix(";"))))
    catch { case _: ParseException => false }
  }

  /** `(DESCRIBE …)` / `(SUMMARIZE …)` as a RELATION (reference
    * show_select: describe_subquery.test, summarize_subquery.test):
    * run the inner statement through the front door, bind the result
    * in the statement scope and splice it back as a subselect, so FROM
    * items, aliases, and setop arms compose. (`(PIVOT …)` relations — pivot_6390's
    * parenthesized statement form — are already handled upstream by
    * PivotStmt.pass, whose isStmt check treats a `(`-preceded PIVOT
    * keyword as the statement form.)
    */
  // SHOW included: `FROM (SHOW databases) t` runs the SHOW verb
  // through the statement layer and splices the result as a relation
  private val SubStmtRe = "(?i)\\(\\s*(DESCRIBE|SUMMARIZE|SHOW)\\b".r
  private def subStatementPass(spark: SparkSession, text: String): Option[String] =
    SqlText.findInCode(text, SubStmtRe).map { m =>
      val close = SqlText.matchParen(text, m.start)
      val inner = text.substring(m.start + 1, close).trim
      val view = StatementScope.get.fresh("__sub_", sql(spark, inner))
      text.substring(0, m.start) + s"(SELECT * FROM $view)" + text.substring(close + 1)
    }

  /** `… UNION [ALL] BY NAME …` (reference setop syntax): execute the
    * two sides, `unionByName(allowMissingColumns = true)`, bind the
    * frame in the statement scope and splice its name into the
    * enclosing query. Without ALL the reference dedups — so does this.
    * Column order matches the reference: left columns first,
    * right-only columns appended.
    */
  private val UnionByName = "(?i)\\bUNION\\s+(ALL\\s+)?BY\\s+NAME\\b".r
  private def unionByNamePass(spark: SparkSession, text: String): Option[String] = {
    SqlText.findInCode(text, UnionByName).map { m =>
      val all = m.group(1) != null
      // enclosing scope: the '(' whose depth the match sits inside
      val open = SqlText.openParen(text, m.start)
      val close = if (open >= 0) SqlText.matchParen(text, open) else text.length
      val scopeStart = if (open >= 0) open + 1 else 0
      val left0 = text.substring(scopeStart, m.start)
      // The scope may carry a statement prefix (CREATE TABLE t AS …,
      // INSERT INTO t …, EXPLAIN …): only the SELECT/WITH query text
      // belongs to the left arm — everything before it must stay in
      // the spliced statement, not be executed as part of the arm.
      val selIdx = SqlText.topIndexOf(left0, "SELECT")
      val withIdx = SqlText.topIndexOf(left0, "WITH")
      val qStart = (selIdx, withIdx) match {
        case (-1, -1) => return None
        case (-1, w) => w
        case (s, -1) => s
        case (s, w) => math.min(s, w)
      }
      val prefix = left0.substring(0, qStart)
      val left = left0.substring(qStart).trim
      val right0 = text.substring(m.end, close)
      // A trailing ORDER BY / LIMIT / OFFSET binds to the WHOLE set
      // operation (reference setop semantics), not to the right arm —
      // cut the arm at the first top-level tail clause and re-apply
      // the tail to the spliced view.
      val tailStart = Seq("ORDER BY", "LIMIT", "OFFSET")
        .map(SqlText.topIndexOf(right0, _))
        .filter(_ >= 0) match {
          case Nil => right0.length
          case idxs => idxs.min
        }
      val right = right0.substring(0, tailStart).trim
      val tail = right0.substring(tailStart)
      val l = sql(spark, left)
      val r = sql(spark, right)
      val u0 = l.unionByName(r, allowMissingColumns = true)
      val view = StatementScope.get.fresh("__setop_", if (all) u0 else u0.distinct())
      text.substring(0, scopeStart) + prefix + s" SELECT * FROM $view $tail " +
        text.substring(close)
    }
  }

  /** `SELECT * [EXCEPT (…)] REPLACE (e AS c, …) FROM …` — the star
    * REPLACE modifier (reference star_expression REPLACE list).
    * Schema-aware: probe the statement without the REPLACE list for
    * its columns (lazy — no execution), then project explicitly with
    * the replaced expressions substituted in place.
    */
  /** The relations around a join verb at `[kw, kwEnd)`: the left one
    * runs from the last FROM, `,` or `(` before the verb at its depth;
    * the right one is a paren group or a name, then an alias unless the
    * next word is a clause keyword. (leftStart, left, right relation,
    * right alias, end of the right side).
    */
  private def joinOperands(sql: String, kw: Int, kwEnd: Int)
      : Option[(Int, String, String, Option[String], Int)] = {
    val starts = scala.collection.mutable.Map.empty[Int, Int]
    var depth = 0
    SqlText.findCode(sql) { (i, d) =>
      depth = d
      if (i < kw) sql.charAt(i) match {
        case '(' => starts(d + 1) = i + 1
        case ',' => starts(d) = i + 1
        case _ => if (SqlText.wordAt(sql, i, "FROM")) starts(d) = i + 4
      }
      i >= kw
    }
    val leftStart = starts.getOrElse(depth, return None)
    var j = kwEnd
    while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
    val relEnd =
      if (j < sql.length && sql.charAt(j) == '(') SqlText.matchParen(sql, j) + 1
      else {
        var k = j
        while (k < sql.length && (SqlText.isWordChar(sql.charAt(k)) ||
            sql.charAt(k) == '.' || SqlText.spanEnd(sql, k) > k))
          k = SqlText.spanEnd(sql, k).max(k + 1)
        k
      }
    if (relEnd <= j) return None
    val TailKw = Set("WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "HAVING",
      "UNION", "EXCEPT", "INTERSECT", "QUALIFY", "WINDOW", "JOIN", "LEFT",
      "RIGHT", "FULL", "INNER", "CROSS", "POSITIONAL", "NATURAL", "ON", "USING")
    val alias = "(?is)^\\s+(?:AS\\s+)?([A-Za-z_]\\w*)".r
      .findFirstMatchIn(sql.substring(relEnd)).filterNot(m => TailKw(m.group(1).toUpperCase))
    Some((leftStart, sql.substring(leftStart, kw).trim, sql.substring(j, relEnd),
      alias.map(_.group(1)), relEnd + alias.map(_.end).getOrElse(0)))
  }

  private val NaturalSemiAnti = "(?i)\\bNATURAL\\s+(SEMI|ANTI)\\s+JOIN\\b".r

  /** `A NATURAL SEMI|ANTI JOIN B` → `A LEFT SEMI|ANTI JOIN B USING
    * (common)` with the common columns probed through the front door.
    * Fires only when the left operand is one relation (a name or a
    * subquery, with its alias) — in `a NATURAL JOIN b NATURAL SEMI
    * JOIN c` the reference derives USING from the whole (a⋈b) schema,
    * so that shape passes through and fails loudly in Spark's parser
    * instead. */
  private def naturalSemiAntiPass(spark: SparkSession, sql0: String): String = {
    for (m <- NaturalSemiAnti.findAllMatchIn(sql0) if SqlText.inCode(sql0, m.start))
      joinOperands(sql0, m.start, m.end) match {
        case Some((ls, left, rel, alias, re)) if SqlText.topIndexOf(left, "JOIN") < 0 =>
          val right = rel + alias.map(" " + _).getOrElse("")
          // a probe that fails names the real fault: Spark has no
          // NATURAL SEMI/ANTI, so the unrewritten statement fails too
          val l = sql(spark, s"SELECT * FROM $left").columns
          val r = sql(spark, s"SELECT * FROM $right").columns.map(_.toLowerCase).toSet
          val common = l.filter(c => r.contains(c.toLowerCase))
          if (common.nonEmpty)
            return sql0.substring(0, ls) + s" $left LEFT ${m.group(1).toUpperCase} JOIN $right " +
              s"USING (${common.map(c => s"`$c`").mkString(", ")})" + sql0.substring(re)
        case _ =>
      }
    sql0
  }

  /** `A POSITIONAL JOIN B` (reference positional join; the operator
    * form is R35/operators/Joins.positionalJoin): zip by scan
    * position, NULL-padding the shorter side — DuckDB-pinned:
    * three ⋈pos two = [(1,10),(2,20),(3,NULL)]. Each side gets a
    * scan-order row number (row_number over
    * monotonically_increasing_id, which preserves scan order), then a
    * FULL JOIN on it. A leading `SELECT * FROM` expands to the two
    * relations' columns so the helper __pos never leaks.
    */
  private def positionalJoinPass(spark: SparkSession, sql0: String): String = {
    val kwIdx = SqlText.topIndexOf(sql0, "POSITIONAL JOIN")
    if (kwIdx < 0) return sql0
    val joinEnd = kwIdx + "(?is)^POSITIONAL\\s+JOIN".r.findFirstIn(sql0.substring(kwIdx)).get.length
    val (fromIdx, leftRaw, rRel0, alias, rightEnd) =
      joinOperands(sql0, kwIdx, joinEnd).getOrElse(return sql0)
    val rAl = alias.getOrElse("__pjr")
    def split(rel: String): (String, String) = {
      val t = rel.trim
      if (t.startsWith("(")) {
        val close = SqlText.matchParen(t, 0)
        val al = t.substring(close + 1).trim.replaceAll("(?i)^AS\\s+", "")
        (t.substring(0, close + 1), if (al.nonEmpty) al else "__pjl")
      } else {
        val parts = t.split("\\s+")
        if (parts.length >= 2)
          (parts.dropRight(1).mkString(" ").replaceAll("(?i)\\s+AS$", ""), parts.last)
        else (t, t.replaceAll("[^\\w]", "_"))
      }
    }
    val (lRel, lAl) = split(leftRaw)
    def wrap(rel: String, al: String): String =
      s"(SELECT *, row_number() OVER (ORDER BY monotonically_increasing_id()) " +
        s"AS __pos FROM $rel __pj_$al) $al"
    val joined = s"${wrap(lRel, lAl)} FULL JOIN ${wrap(rRel0, rAl)} " +
      s"ON $lAl.__pos = $rAl.__pos"
    var out = sql0.substring(0, fromIdx) + " " + joined + sql0.substring(rightEnd)
    // leading `SELECT * FROM` would leak __pos — expand to the two
    // relations' columns (schema probe, lazy)
    val StarHead = "(?is)^(\\s*SELECT\\s+)\\*(\\s+FROM\\b)".r
    StarHead.findFirstMatchIn(out).foreach { m =>
      val lc = sql(spark, s"SELECT * FROM $lRel __c").columns
      val rc = sql(spark, s"SELECT * FROM $rRel0 __c").columns
      val cols = (lc.map(c => s"$lAl.`$c`") ++ rc.map(c => s"$rAl.`$c`")).mkString(", ")
      out = m.group(1) + cols + m.group(2) + out.substring(m.end)
    }
    // the reference's POSITIONAL JOIN emits rows in zip order; a FULL
    // JOIN on row_number loses it. When the user gave no ORDER BY (and
    // the statement isn't aggregating / a set op), sort by the
    // coalesced position — ORDER BY may reference non-projected FROM
    // columns, so __pos still never leaks into the output (r13 advice).
    import SqlText.topIndexOf
    val selectHead = sql0.substring(0, fromIdx)
    // an agg-function spelling followed by OVER is a WINDOW call, not
    // an aggregation — the row set stays 1:1 with the zip, so those
    // still get the zip-order guarantee (r13 advice)
    val aggregating =
      "(?i)\\b(count|sum|min|max|avg)\\s*\\(".r.findAllMatchIn(selectHead)
        .exists { m =>
          val close = SqlText.matchParen(selectHead, m.end - 1)
          close < 0 || !selectHead.substring(close + 1).trim.toUpperCase.startsWith("OVER")
        }
    // SELECT DISTINCT: __pos is outside the distinct projection, so
    // an injected ORDER BY __pos would be an AnalysisException — skip
    // (distinct output is a set; the reference's zip order is
    // unobservable through it anyway)
    val distinctHead =
      "(?is)^\\s*SELECT\\s+DISTINCT\\b".r.findFirstIn(selectHead).isDefined
    val blocked = distinctHead ||
      Seq("ORDER", "GROUP", "UNION", "INTERSECT", "EXCEPT")
      .exists(k => topIndexOf(out, k) >= 0)
    if (!blocked && !aggregating) {
      val orderBy = s" ORDER BY COALESCE($lAl.__pos, $rAl.__pos)"
      val limIdx = Seq("LIMIT", "OFFSET").map(k => topIndexOf(out, k))
        .filter(_ >= 0).reduceOption(_ min _)
      out = limIdx match {
        case Some(i) => out.substring(0, i) + orderBy + " " + out.substring(i)
        case None => out + orderBy
      }
    }
    out
  }

  private def starReplacePass(spark: SparkSession, sql0: String): String = {
    // paren-free single replacement (`SELECT * REPLACE expr AS name
    // FROM …` — legal in the reference like paren-free EXCLUDE):
    // normalize to the parenthesized form, list = up to top-level FROM
    val BareRe = "(?i)SELECT\\s+\\*\\s*(EXCEPT\\s*\\([^)]*\\)\\s*)?REPLACE\\s+(?!\\()".r
    val sql1 = BareRe.findFirstMatchIn(sql0) match {
      case Some(b) =>
        val fromIdx = SqlText.topIndexOf(sql0.substring(b.end), "FROM")
        if (fromIdx < 0) sql0
        else sql0.substring(0, b.end) + "(" +
          sql0.substring(b.end, b.end + fromIdx).trim + ") " +
          sql0.substring(b.end + fromIdx)
      case None => sql0
    }
    val Re = "(?i)SELECT\\s+\\*\\s*(EXCEPT\\s*\\([^)]*\\)\\s*)?REPLACE\\s*\\(".r
    val m = Re.findFirstMatchIn(sql1).getOrElse(return sql0)
    import SqlText.matchParen
    val repOpen = sql1.lastIndexOf('(', m.end - 1)
    val repClose = matchParen(sql1, repOpen)
    var listText = sql1.substring(repOpen + 1, repClose)
    var afterList = repClose + 1
    // the translator parenthesizes a paren-free REPLACE's expr, giving
    // `REPLACE (expr) AS name … FROM`: when the paren group carries no
    // top-level AS and AS follows the close, the real list runs to FROM
    if (SqlText.topIndexOf(listText, "AS") < 0 &&
        sql1.substring(repClose + 1).trim.toUpperCase.startsWith("AS")) {
      val tail = sql1.substring(repClose + 1)
      val fromIdx = SqlText.topIndexOf(tail, "FROM")
      if (fromIdx >= 0) {
        listText = sql1.substring(repOpen, repClose + 1) + tail.substring(0, fromIdx)
        afterList = repClose + 1 + fromIdx
      }
    }
    val repList = SqlText.splitTop(listText, ',')
    val rest = sql1.substring(afterList)
    val exceptPart = Option(m.group(1)).getOrElse("")
    val probeCols = spark.sql(s"SELECT * $exceptPart $rest").columns.toSeq
    val repMap = repList.map { item =>
      val asIdx = SqlText.topIndexOf(item, "AS")
      require(asIdx > 0, s"REPLACE: expected `expr AS name`, got: $item")
      val name = item.substring(asIdx + 2).trim.stripPrefix("`").stripSuffix("`")
      name.toLowerCase -> item.substring(0, asIdx).trim
    }.toMap
    val proj = probeCols.map { c =>
      repMap.get(c.toLowerCase).map(e => s"$e AS `$c`").getOrElse(s"`$c`")
    }.mkString(", ")
    sql1.substring(0, m.start) + s"SELECT $proj " + rest
  }

  /** `fn(COLUMNS('regex'))` multi-column expansion (reference
    * COLUMNS star expression): expands to one aggregate per matching
    * column of the statement's FROM relation, each aliased to the
    * plain column name — the reference's own output naming (pinned
    * in DuckDB 1.0.0).
    */
  private def columnsPass(spark: SparkSession, sql0: String): String = {
    if (!sql0.toUpperCase.contains("COLUMNS")) return sql0
    // map form fn(COLUMNS('re'|*)) → one fn per matched column;
    // unpack form fn(*COLUMNS('re'|*)) → ONE call with the columns
    // spread as its arguments (reference star_expression unpacking)
    val MapRe =
      "(?i)([A-Za-z_]\\w*)\\s*\\(\\s*COLUMNS\\s*\\(\\s*(\\*|'[^']*')\\s*\\)\\s*\\)".r
    val UnpackRe =
      "(?i)([A-Za-z_]\\w*)\\s*\\(\\s*\\*\\s*COLUMNS\\s*\\(\\s*(\\*|'[^']*')\\s*\\)\\s*\\)".r
    val fromIdx = SqlText.topIndexOf(sql0, "FROM")
    if (fromIdx < 0 ||
      (MapRe.findFirstIn(sql0).isEmpty && UnpackRe.findFirstIn(sql0).isEmpty))
      return sql0
    val cols = spark.sql("SELECT * " + sql0.substring(fromIdx)).columns.toSeq
    def matched(spec: String): Seq[String] =
      if (spec == "*") cols
      else {
        val p = java.util.regex.Pattern.compile(
          spec.stripPrefix("'").stripSuffix("'"))
        val hit = cols.filter(c => p.matcher(c).find())
        require(hit.nonEmpty, s"COLUMNS($spec) matched no columns")
        hit
      }
    val unpacked = UnpackRe.replaceAllIn(sql0, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)}(${matched(m.group(2)).map(c => s"`$c`").mkString(", ")})"))
    MapRe.replaceAllIn(unpacked, m => {
      val fn = m.group(1)
      java.util.regex.Matcher.quoteReplacement(
        matched(m.group(2)).map(c => s"$fn(`$c`) AS `$c`").mkString(", "))
    })
  }

  private val CreateOrReplace =
    """(?is)^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+(`[^`]+`|\S+)\s+(.*)$""".r

  private val CreateTableName =
    """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|[\w.]+)\s*\(.*""".r

  /** Materialize recorded generated columns onto a just-created table
    * (reference test/sql/generated_columns): append each `AS (expr)`
    * column — the expression text is already dialect-translated — and
    * reorder to the DDL's declared column order. Runs on the (empty)
    * CREATE result, so the cost is a schema write; inserts recompute
    * through sources/DmlSql.
    */
  private def applyGenerated(spark: SparkSession, table: String): Unit = {
    val bare = table.stripPrefix("`").stripSuffix("`")
    val g = graft.plans.TableMeta.generated(bare)
    if (g.nonEmpty) {
      graft.plans.StatementSurface.alterRewrite(spark, bare, df => {
        val withG = g.foldLeft(df)((d, gc) =>
          d.withColumn(gc.name, org.apache.spark.sql.functions.expr(gc.expr)))
        graft.plans.TableMeta.declaredOrder(bare) match {
          case Some(order) =>
            withG.select(order.map(c =>
              org.apache.spark.sql.functions.col(s"`$c`")): _*)
          case None => withG
        }
      })
      ()
    }
  }

  /** Run a multi-statement DuckDB-dialect script (e.g. the reference
    * fork's own sql_files scripts): statements split on `;` outside
    * strings/comments, each executed through the front door; returns
    * the result of every statement in order.
    */
  def runScript(spark: SparkSession, script: String): Seq[DataFrame] =
    splitStatements(script).map(sql(spark, _))

  /** `;`-splitting outside literals, quoted names and comments
    * (comments are dropped so a trailing `-- note` never hides the
    * next statement).
    */
  def splitStatements(script: String): Seq[String] =
    SqlText.splitTop(SqlText.stripComments(script), ';')

  /** EXPLAIN → Spark's formatted plan; EXPLAIN ANALYZE → execute,
    * then render the final (AQE-resolved) physical tree with each
    * node's metric values — the reference's profiler-annotated tree
    * re-expressed with Spark's SQLMetrics.
    */
  def explain(spark: SparkSession, inner: String, analyze: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val df = sql(spark, inner)
    val schema = StructType(Seq(
      StructField("explain_key", StringType, nullable = false),
      StructField("explain_value", StringType, nullable = false)))
    def result(key: String, value: String): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(Row(key, value)), schema)
    if (!analyze) {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      result("physical_plan", plan)
    } else {
      val t0 = System.nanoTime()
      val rows = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val sb = new StringBuilder
      sb.append(f"Total Time: $secs%.3fs   Rows Returned: $rows%d%n")
      def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
        val ms = p.metrics.toSeq.sortBy(_._1)
          .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
        sb.append("  " * depth).append(p.nodeName)
        if (ms.nonEmpty) sb.append(" [").append(ms).append("]")
        sb.append("\n")
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan, depth + 1)
          case _ => p.children.foreach(walk(_, depth + 1))
        }
      }
      walk(df.queryExecution.executedPlan, 0)
      result("analyzed_plan", sb.toString)
    }
  }

  /** DESCRIBE shaped like the reference's pragma_table_info result
    * (same contract as the oracle-gated s16_describe entry).
    */
  def describe(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(
      Seq("column_name", "column_type", "null", "key", "default", "extra")
        .map(StructField(_, StringType, nullable = true)))
    val rows = df.schema.fields.toSeq.map { f =>
      Row(f.name, graft.queries.DuckTypes.name(f.dataType),
        if (f.nullable) "YES" else "NO", null, null, null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
