package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DuckDialect, SqlText}

/** Front-door robustness items surfaced by sweeping the reference's
  * own sqllogictest corpus through the translator
  * (tools/RefTestSweep): each case here is a reference-test shape
  * that used to crash or mistranslate.
  */
class DialectRobustnessSpec extends AnyFunSuite {
  import TestSession._

  private def t(sql: String): String = DuckDialect.translate(sql)

  private def fresh(name: String): Unit = {
    GraftSql.sql(spark, s"DROP TABLE IF EXISTS $name")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete(): Unit
    }
    val dir = new java.io.File(wh, name.toLowerCase)
    if (dir.exists()) del(dir)
  }

  test("INSERT VALUES coerces rows to the target column types") {
    fresh("floats_ins")
    GraftSql.sql(spark, "CREATE TABLE floats_ins(f FLOAT)")
    // the reference's insert binder coerces 'NAN' to the FLOAT column;
    // Spark's inline table alone cannot unify ('NAN') with (1)
    GraftSql.sql(spark, "INSERT INTO floats_ins VALUES ('NAN'), (1)")
    val vals = spark.table("floats_ins").collect().map(_.getFloat(0))
    assert(vals.exists(_.isNaN) && vals.contains(1.0f))
    GraftSql.sql(spark, "DROP TABLE floats_ins")
  }

  test("CREATE TEMP TABLE maps to a managed table; TEMP VIEW stays temp") {
    fresh("temp_tbl_x")
    GraftSql.sql(spark, "CREATE TEMPORARY TABLE temp_tbl_x(i INTEGER) ON COMMIT PRESERVE ROWS")
    GraftSql.sql(spark, "INSERT INTO temp_tbl_x VALUES (7)")
    assert(spark.table("temp_tbl_x").count() === 1)
    GraftSql.sql(spark, "DROP TABLE temp_tbl_x")
    GraftSql.sql(spark, "CREATE TEMP VIEW temp_view_x AS SELECT 42 AS x")
    assert(spark.catalog.tableExists("temp_view_x"))
    spark.catalog.dropTempView("temp_view_x")
  }

  test("CREATE VIEW over a session function or a temp view reads back in a later statement") {
    fresh("cv_t")
    GraftSql.sql(spark, "CREATE TABLE cv_t AS SELECT 1.6 AS x")
    spark.sql("SELECT 2 AS z").createOrReplaceTempView("cv_tmp")
    try {
      // the dialect spells an integer cast with a session function
      // (DuckDB 1.0.0: 2); a body over a temp view; a plain body stays
      // a persistent view
      GraftSql.sql(spark, "CREATE VIEW cv_fn AS SELECT CAST(x AS INTEGER) AS y FROM cv_t")
      GraftSql.sql(spark, "CREATE VIEW cv_tv AS SELECT z FROM cv_tmp")
      GraftSql.sql(spark, "CREATE VIEW cv_plain AS SELECT x FROM cv_t")
      assert(GraftSql.sql(spark, "SELECT y FROM cv_fn").collect().map(_.getInt(0)).toSeq === Seq(2))
      assert(GraftSql.sql(spark, "SELECT z FROM cv_tv").collect().map(_.getInt(0)).toSeq === Seq(2))
      assert(!spark.catalog.getTable("cv_plain").isTemporary)
    } finally {
      Seq("cv_fn", "cv_tv", "cv_tmp").foreach(spark.catalog.dropTempView)
      GraftSql.sql(spark, "DROP VIEW IF EXISTS cv_plain")
      fresh("cv_t")
    }
  }

  test("CREATE [TEMP] VIEW over a UNION BY NAME body reads back in a later statement") {
    // DuckDB 1.0.0: (1, NULL) and (NULL, 2), for both forms
    Seq("CREATE VIEW ubn_v", "CREATE TEMP VIEW ubn_tv").foreach { create =>
      val name = create.split(' ').last
      GraftSql.sql(spark, s"$create AS SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS b")
      try assert(GraftSql.sql(spark, s"SELECT * FROM $name").collect().map(_.toSeq).toSet
        === Set(Seq(1, null), Seq(null, 2)), create)
      finally spark.catalog.dropTempView(name)
    }
    // a body over a listing the statement binds for itself
    GraftSql.sql(spark, "SET VARIABLE ubn_x = 42")
    try {
      GraftSql.sql(spark,
        "CREATE TEMP VIEW ubn_vars AS SELECT value FROM duckdb_variables() WHERE name = 'ubn_x'")
      assert(GraftSql.sql(spark, "SELECT * FROM ubn_vars").collect().map(_.get(0)).toSeq === Seq("42"))
    } finally {
      spark.catalog.dropTempView("ubn_vars")
      GraftSql.sql(spark, "RESET VARIABLE ubn_x")
    }
  }

  test("CREATE SCHEMA / DROP with CASCADE modifiers") {
    GraftSql.sql(spark, "CREATE SCHEMA IF NOT EXISTS robustness_test")
    GraftSql.sql(spark, "DROP SCHEMA robustness_test")
    assert(t("DROP TABLE integers CASCADE") === "DROP TABLE integers")
    assert(t("DROP VIEW v1 RESTRICT;").replaceAll("\\s+", " ") === "DROP VIEW v1 ;")
  }

  test("COMMENT ON table and column") {
    fresh("commented")
    GraftSql.sql(spark, "CREATE TABLE commented(k INTEGER, v VARCHAR)")
    GraftSql.sql(spark, "COMMENT ON TABLE commented IS 'very gezellige table'")
    GraftSql.sql(spark, "COMMENT ON COLUMN commented.v IS 'very gezellige column'")
    val props = spark.sql("DESCRIBE TABLE EXTENDED commented").collect()
      .map(_.toSeq.mkString("|")).mkString("\n")
    assert(props.contains("very gezellige table"))
    assert(spark.table("commented").schema("v").getComment().contains("very gezellige column"))
    // other object kinds: successful no-op
    GraftSql.sql(spark, "COMMENT ON SEQUENCE seq1 IS 'x'")
    GraftSql.sql(spark, "DROP TABLE commented")
  }

  test("DROP MACRO removes a registered macro") {
    GraftSql.sql(spark, "CREATE MACRO rob_add(a, b) AS a + b")
    assert(GraftSql.sql(spark, "SELECT rob_add(2, 3) AS s").collect()(0).get(0) === 5)
    GraftSql.sql(spark, "DROP MACRO rob_add")
    intercept[Exception](GraftSql.sql(spark, "DROP MACRO rob_add"))
    GraftSql.sql(spark, "DROP MACRO IF EXISTS rob_add") // no-throw
  }

  test("r13: >16 call sites of a non-recursive macro all expand") {
    GraftSql.sql(spark, "CREATE MACRO rob_inc(a) AS a + 1")
    try {
      // 20 sites in one statement: the self-recursion budget must not
      // leave the tail sites unexpanded (they'd fail as unknown fns)
      val terms = (1 to 20).map(i => s"rob_inc($i)").mkString(" + ")
      val got = GraftSql.sql(spark, s"SELECT $terms AS s").collect()(0).get(0)
      assert(got.toString === (1 to 20).map(_ + 1).sum.toString)
    } finally GraftSql.sql(spark, "DROP MACRO IF EXISTS rob_inc")
  }

  test("trailing commas in VALUES and select lists are tolerated") {
    assert(GraftSql.sql(spark, "SELECT * FROM (VALUES (1), (2),) t(i)").count() === 2)
    assert(GraftSql.sql(spark, "SELECT 1 AS a, 2 AS b, FROM range(1)")
      .columns.toSeq === Seq("a", "b"))
  }

  test("user ENUM type names work in DDL after CREATE TYPE") {
    GraftSql.sql(spark, "CREATE TYPE rob_mood AS ENUM ('sad', 'ok', 'happy')")
    try {
      assert(t("CREATE TABLE a (a string, b rob_mood)") ===
        "CREATE TABLE a (a STRING, b STRING) USING parquet")
    } finally GraftSql.sql(spark, "DROP TYPE rob_mood")
  }

  test("star EXCLUDE: paren-free and qualified forms") {
    assert(t("SELECT * EXCLUDE i FROM integers") === "SELECT * EXCEPT (i) FROM integers")
    assert(t("SELECT a.* EXCLUDE(j) FROM test a") === "SELECT a.* EXCEPT (j) FROM test a")
  }

  test("parenthesized JOIN trees pass through as clause structure") {
    assert(t("SELECT * FROM (a NATURAL JOIN b NATURAL JOIN c) NATURAL JOIN (d NATURAL JOIN e)")
      === "SELECT * FROM (a NATURAL JOIN b NATURAL JOIN c) NATURAL JOIN (d NATURAL JOIN e)")
    // real execution over data
    GraftSql.sql(spark, "CREATE OR REPLACE TEMP VIEW nj_a AS SELECT 1 AS k, 'x' AS va")
    GraftSql.sql(spark, "CREATE OR REPLACE TEMP VIEW nj_b AS SELECT 1 AS k, 'y' AS vb")
    GraftSql.sql(spark, "CREATE OR REPLACE TEMP VIEW nj_c AS SELECT 1 AS k, 'z' AS vc")
    assert(GraftSql.sql(spark,
      "SELECT * FROM (nj_a NATURAL JOIN nj_b) NATURAL JOIN nj_c").count() === 1)
  }

  test("quantified comparisons: ANY / ALL / SOME with 3-valued logic") {
    def one(q: String): Any = GraftSql.sql(spark, q).collect()(0).get(0)
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW qset AS SELECT * FROM (VALUES (1), (3)) t(i)")
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW qnull AS SELECT * FROM (VALUES (1), (NULL)) t(i)")
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW qempty AS SELECT i FROM qset WHERE i > 99")
    assert(one("SELECT 2 > ANY(SELECT i FROM qset)") === true)
    assert(one("SELECT 0 > ANY(SELECT i FROM qset)") === false)
    assert(one("SELECT 2 >= ALL(SELECT i FROM qset)") === false)
    assert(one("SELECT 4 >= ALL(SELECT i FROM qset)") === true)
    assert(one("SELECT 2 = SOME(SELECT i FROM qset)") === false)
    assert(one("SELECT 3 = SOME(SELECT i FROM qset)") === true)
    // NULLs: unknown comparisons propagate unless decided
    assert(one("SELECT 4 >= ALL(SELECT i FROM qnull)") === null)
    assert(one("SELECT 0 >= ALL(SELECT i FROM qnull)") === false)
    assert(one("SELECT 1 = ANY(SELECT i FROM qnull)") === true)
    assert(one("SELECT 2 = ANY(SELECT i FROM qnull)") === null)
    // empty set: ANY is FALSE, ALL is TRUE (reference subquery rules)
    assert(one("SELECT 1 = ANY(SELECT i FROM qempty)") === false)
    assert(one("SELECT 1 = ALL(SELECT i FROM qempty)") === true)
    assert(one("SELECT NULL = ANY(SELECT i FROM qempty)") === false)
  }

  test("ordered aggregates: list/first/last with inline ORDER BY") {
    GraftSql.sql(spark, """CREATE OR REPLACE TEMP VIEW oagg AS
        SELECT * FROM (VALUES (1, 'c'), (3, 'a'), (2, 'b'), (4, NULL)) t(k, v)""")
    def one(q: String): Any = GraftSql.sql(spark, q).collect()(0).get(0)
    assert(one("SELECT list(k ORDER BY v) FROM oagg") === Seq(3, 2, 1, 4)) // NULLS LAST
    assert(one("SELECT list(k ORDER BY v DESC) FROM oagg") === Seq(1, 2, 3, 4))
    assert(one("SELECT list(v ORDER BY k DESC) FROM oagg") === Seq(null, "a", "b", "c"))
    assert(one("SELECT first(v ORDER BY k) FROM oagg") === "c")
    assert(one("SELECT last(v ORDER BY k DESC) FROM oagg") === "c")
    assert(one("SELECT array_agg(k ORDER BY v, k) FROM oagg") === Seq(3, 2, 1, 4))
  }

  test("COLUMNS star forms: unpack fn(*COLUMNS(*)) and map fn(COLUMNS(*))") {
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW cstar AS SELECT * FROM (VALUES (NULL, 2, 3), (7, NULL, 9)) t(a, b, c)")
    val unpack = GraftSql.sql(spark, "SELECT COALESCE(*COLUMNS(*)) AS f FROM cstar")
      .collect().map(_.get(0)).toSeq
    assert(unpack === Seq(2, 7))
    val mapped = GraftSql.sql(spark, "SELECT min(COLUMNS(*)) FROM cstar")
    assert(mapped.columns.toSeq === Seq("a", "b", "c"))
    assert(mapped.collect()(0).toSeq === Seq(7, 2, 3))
  }

  test("JSON -> / ->> operators and finalize(EXPORT_STATE)") {
    def one(q: String): Any = GraftSql.sql(spark, q).collect()(0).get(0)
    assert(one("""SELECT '{"a": {"b": 42}, "k": "v"}'->'$.a.b'""") === "42")
    assert(one("""SELECT '{"k": "v"}'->>'k'""") === "v")
    assert(one("""SELECT '{"a": [1, 2, 3]}'->'$.a[1]'""") === "2")
    assert(one("SELECT finalize(count(*) EXPORT_STATE) FROM range(5)") === 5L)
  }

  test("FILTER on window aggregates folds into the argument") {
    // Spark rejects FILTER on window functions; DuckDB 1.0 pinned:
    // (1,NULL,1), (2,20,2), (3,50,3), (4,90,3)
    GraftSql.sql(spark,
      "CREATE OR REPLACE TEMP VIEW wfagg AS SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30), (4, 40)) v(i, x)")
    val out = GraftSql.sql(spark,
      """SELECT i, CAST(sum(x) FILTER (WHERE x > 15) OVER (ORDER BY i) AS BIGINT) s,
         CAST(count(*) FILTER (WHERE x < 35) OVER (ORDER BY i) AS BIGINT) c
         FROM wfagg ORDER BY i""").collect().toSeq.map(_.toSeq)
    assert(out === Seq(Seq(1, null, 1L), Seq(2, 20L, 2L), Seq(3, 50L, 3L), Seq(4, 90L, 3L)))
  }

  test("DESCRIBE / SUMMARIZE as relations (show_select subquery tests)") {
    def rows(q: String): Seq[Seq[Any]] =
      GraftSql.sql(spark, q).collect().toSeq.map(_.toSeq)
    assert(rows("SELECT column_name FROM (DESCRIBE SELECT 42 AS a)") === Seq(Seq("a")))
    assert(rows("SELECT t.column_name FROM (DESCRIBE SELECT 42 AS a) t") === Seq(Seq("a")))
    // nested describe-of-describe lists the describe schema itself
    assert(rows("SELECT column_name FROM (DESCRIBE (DESCRIBE SELECT 32 AS a))")
      .map(_.head) === Seq("column_name", "column_type", "null", "key", "default", "extra"))
    // SUMMARIZE: the reference's own column layout + values
    assert(rows("SELECT column_name, min, max, count, null_percentage FROM " +
      "(SUMMARIZE SELECT * FROM (VALUES (1, 'a'), (2, NULL)) t(i, s))")
      .map(r => (r(0), r(1), r(2), r(3), r(4).toString)) === Seq(
        ("i", "1", "2", 2L, "0.00"), ("s", "a", "a", 2L, "50.00")))
    assert(GraftSql.sql(spark, "SELECT * FROM (SUMMARIZE SELECT 1 AS x)")
      .columns.toSeq === Seq("column_name", "column_type", "min", "max",
        "approx_unique", "avg", "std", "q25", "q50", "q75", "count",
        "null_percentage"))
  }

  test("dot function-chaining, ordered-agg NULLS placement, ANALYZE") {
    def one(q: String): Any = GraftSql.sql(spark, q).collect()(0).get(0)
    // x.f(args) ≡ f(x, args), chainable (reference dot operator)
    assert(one("SELECT 'a/b/c'.replace('b', 'x').split('/')[2]") === "x")
    assert(one("SELECT 'hello'.upper()") === "HELLO")
    // ordered aggregates with NULLS placement and multi-key
    GraftSql.sql(spark, """CREATE OR REPLACE TEMP VIEW onagg AS
        SELECT * FROM (VALUES (1, 'x', 10), (NULL, 'y', 20), (2, 'x', 30)) t(k, g, v)""")
    assert(one("SELECT list(v ORDER BY k NULLS FIRST) FROM onagg") === Seq(20, 10, 30))
    assert(one("SELECT list(v ORDER BY k NULLS LAST) FROM onagg") === Seq(10, 30, 20))
    assert(one("SELECT first(v ORDER BY g ASC, k DESC) FROM onagg") === 30)
    assert(one("SELECT first(v ORDER BY k DESC NULLS FIRST) FROM onagg") === 20)
    // ANALYZE routes (stats recompute / no-op on a temp view); a
    // missing table raises
    GraftSql.sql(spark, "ANALYZE")
    GraftSql.sql(spark, "ANALYZE onagg")
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.sql(spark, "ANALYZE no_such_table")
    }
    assert(missing.getCondition === "TABLE_OR_VIEW_NOT_FOUND")
  }

  test("IN over list and map collections") {
    assert(GraftSql.sql(spark, "SELECT 2 IN [1, 2, 3] AS t, 5 IN [1, 2] AS f")
      .collect()(0).toSeq === Seq(true, false))
    assert(GraftSql.sql(spark, "SELECT 'a' IN MAP {'a': 1} AS t").collect()(0).get(0) === true)
    assert(GraftSql.sql(spark, "SELECT 2 NOT IN [1, 2, 3] AS f").collect()(0).get(0) === false)
  }

  private val literalCases = Seq(
    """SELECT x AS "it's" FROM range(10) t(x) LIMIT 20 PERCENT""" -> Seq(Seq("0"), Seq("1")),
    "SELECT x FROM range(10) t(x) -- don't\nLIMIT 20 PERCENT" -> Seq(Seq("0"), Seq("1")),
    """SELECT x AS "a(b" FROM range(3) t(x) LIMIT 50 PERCENT""" -> Seq(Seq("0")),
    """SELECT "a'b".x FROM (SELECT 1 AS x) "a'b" NATURAL SEMI JOIN (SELECT 1 AS x) r""" ->
      Seq(Seq("1")),
    """SELECT x AS "it's", row_number() OVER () AS r FROM range(3) t(x)""" ->
      Seq(Seq("0", "1"), Seq("1", "2"), Seq("2", "3")),
    // keyword rewrites must leave string data byte-for-byte
    "SELECT 'skip OFFSET 5 LIMIT 3 rows' AS s" -> Seq(Seq("skip OFFSET 5 LIMIT 3 rows")),
    "SELECT 'FROM db.range(3)' AS s" -> Seq(Seq("FROM db.range(3)")),
    "SELECT 'WINDOW w AS (x)' AS s" -> Seq(Seq("WINDOW w AS (x)")),
    // statement passes must not fire on keywords inside a literal
    "SELECT 'x UNION ALL BY NAME y' AS s" -> Seq(Seq("x UNION ALL BY NAME y")),
    "SELECT 'a EXCLUDE CURRENT ROW' AS s" -> Seq(Seq("a EXCLUDE CURRENT ROW")),
    "SELECT 'CAST(explode(x) AS INT)' AS s" -> Seq(Seq("CAST(explode(x) AS INT)")),
    // escape-string literals: \' does not end one, \n is a newline
    "SELECT E'it\\'s' AS s" -> Seq(Seq("it's")),
    "SELECT 'a' || E'\\n' || 'b' AS s" -> Seq(Seq("a\nb")))

  test("literals, quoted names and comments never hide or fake code (DuckDB 1.0.0 answers)") {
    def rows(q: String): Seq[Seq[String]] =
      GraftSql.sql(spark, q).collect().toSeq.map(_.toSeq.map(String.valueOf))
    literalCases.foreach { case (q, want) => assert(rows(q) === want, q) }
  }

  test("list_sum sums in the element's numeric type and skips NULLs (DuckDB 1.0.0 answers)") {
    def one(q: String): Any = GraftSql.sql(spark, s"SELECT $q AS v").collect().head.get(0)
    assert(one("list_sum([1.5, 2.25])") === new java.math.BigDecimal("3.75"))
    assert(one("list_sum([1.5::DOUBLE, 2.25])") === 3.75)
    assert(one("list_sum([1, NULL, 2])") === 3L)
    assert(one("list_sum([]::INT[])") === null)
    assert(one("list_sum([NULL]::INT[])") === null)
    // a unit vector's sum of squares (the front door's cosine texts)
    assert(one("list_sum(list_transform([0.6::DOUBLE, 0.8], x -> x * x))") === 1.0)
    assert(one("list_aggregate([1.5, 2.5], 'sum')") === new java.math.BigDecimal("4.0"))
  }

  test("date parts are BIGINT with Sunday as day 0; cardinality(map) is BIGINT (DuckDB 1.0.0 answers)") {
    import org.apache.spark.sql.types.LongType
    def one(q: String) = {
      val df = GraftSql.sql(spark, s"SELECT $q AS v")
      (df.collect().head.get(0), df.schema.head.dataType)
    }
    // DuckDB types every one BIGINT (cardinality UBIGINT)
    datePartCases.foreach { case (q, want) => assert(one(q) === ((want, LongType)), q) }
  }

  private val datePartCases = {
    val sun = "DATE '2024-01-07'"
    val sat = "TIMESTAMP '2024-01-06 10:00:00'"
    Seq(s"dayofweek($sun)" -> 0L, s"dayofweek($sat)" -> 6L, s"date_part('dow', $sun)" -> 0L,
      s"EXTRACT(dow FROM $sat)" -> 6L, s"year($sun)" -> 2024L, s"EXTRACT(year FROM $sun)" -> 2024L,
      s"date_part('year', $sun)" -> 2024L, s"EXTRACT('year' FROM $sun)" -> 2024L,
      s"month($sun)" -> 1L, s"date_part('month', $sat)" -> 1L, s"day($sun)" -> 7L,
      s"dayofyear($sun)" -> 7L, s"quarter($sun)" -> 1L, s"week($sun)" -> 1L, s"hour($sat)" -> 10L,
      s"minute($sat)" -> 0L, "cardinality(MAP {'a': 1, 'b': 2})" -> 2L)
  }

  test("the statement tables here leave the session's temp views as they were") {
    def tempViews = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    (literalCases.map(_._1) ++ datePartCases.map { case (q, _) => s"SELECT $q AS v" }).foreach { q =>
      GraftSql.sql(spark, q).collect()
      assert(tempViews === before, q)
    }
  }

  test("a trailing comment never reaches the statement layer (DuckDB 1.0.0 accepts each)") {
    GraftSql.sql(spark, "CREATE OR REPLACE TEMP VIEW cmt_t AS SELECT 1 AS a")
    assert(GraftSql.sql(spark, "DESCRIBE cmt_t -- note").collect().map(_.getString(0)).toSeq === Seq("a"))
    GraftSql.sql(spark, "BEGIN TRANSACTION -- note")
    GraftSql.sql(spark, "COMMIT /* note */")
    GraftSql.sql(spark, "SET cmt_setting = 'it''s' -- note")
    assert(spark.conf.get("cmt_setting") === "it's")
    spark.conf.unset("cmt_setting")
    spark.catalog.dropTempView("cmt_t")
  }

  test("SqlText: where each kind of span ends, and what it hides") {
    val ends = Seq(
      "'it''s' x" -> 7, "\"a\"\"b\" x" -> 6, "`a``b` x" -> 6, "'open" -> 5,
      "$$it's$$ x" -> 8, "$t$a$$b$t$ x" -> 10, "/* a /* b */ c */ x" -> 17, "-- c\nx" -> 4,
      "$1 x" -> 0, "x" -> 0, "E'it\\'s' x" -> 8, "e'a''b\\\\' x" -> 9, "E 'a'" -> 0)
    ends.foreach { case (s, end) => assert(SqlText.spanEnd(s, 0) === end, s) }
    assert(SqlText.spanEnd("a$b$ x", 1) === 1, "a $ inside a word opens nothing")
    assert(SqlText.spanEnd("xe'a'", 1) === 1, "an e inside a word opens no escape string")
    // a paren, a comma and a keyword inside each kind of span
    Seq("'" -> "'", "\"" -> "\"", "`" -> "`", "$$" -> "$$", "$q$" -> "$q$", "/*" -> "*/",
        "--" -> "\n").foreach { case (open, close) =>
      val s = s"f(${open}x) , FROM$close, (y)) FROM t"
      val end = SqlText.matchParen(s, 1)
      assert(end === s.indexOf("))") + 1, s)
      assert(SqlText.splitTop(s.substring(2, end), ',').length === 2, s)
      assert(SqlText.topIndexOf(s, "FROM") === s.lastIndexOf("FROM"), s)
      assert(!SqlText.inCode(s, s.indexOf("FROM")) && SqlText.inCode(s, s.lastIndexOf("FROM")), s)
    }
    assert(SqlText.matchParen("f('x)", 1) === -1, "an unterminated literal runs to the end")
    assert(SqlText.decode(" 'it''s' ") === Some("it's"))
    assert(SqlText.decode("E'a\\tb\\x41\\101\\q\\\\\\''''") === Some("a\tbAAq\\''"))
    assert(Seq("'a'b'", "'open", "'a''", "x", "E'a\\'").forall(SqlText.decode(_).isEmpty))
    assert(SqlText.encode("it's") === "'it''s'")
    assert(SqlText.stripComments("a /* b */c -- d\ne '--'") === "a  c \ne '--'")
    assert(SqlText.mapWords("x + 'x' + \"x\" + x1 -- x")((_, end) => Some("y" -> end)) ===
      "y + 'x' + \"x\" + y -- x")
    assert(SqlText.replaceInCode("a 'a' `a` a", "a".r)(_ => "b") === "b 'a' `a` b")
  }
}
