package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.DuckDialect

/** The DuckDB-dialect front door (plans/DuckDialect + plans/
  * FunctionTable): every execution check value below was pinned by
  * running the same text in DuckDB first, so the translation must
  * reproduce the reference's answers, not just parse.
  *
  * One deliberate reference-vs-driver divergence: the reference's
  * function metadata (core_functions functions.json) maps `<=>` to
  * list_cosine_distance; the DRIVER's older DuckDB still binds it to
  * cosine similarity. The dialect follows the reference (distance =
  * 1 − similarity), pinned here numerically.
  */
class DuckDialectSpec extends AnyFunSuite {
  import TestSession._

  private def t(sql: String): String = DuckDialect.translate(sql)

  private def one(duckSql: String): Any =
    spark.sql(t(s"SELECT $duckSql")).collect()(0).get(0)

  private def row(duckSql: String): Seq[Any] =
    spark.sql(t(s"SELECT $duckSql")).collect()(0).toSeq

  // ------------------------------------------------------ translation shape

  test("unaliased VALUES columns take the reference's names col0, col1, … (DuckDB-pinned)") {
    assert(spark.sql(t("SELECT * FROM (VALUES (1, 2)) t")).columns.toSeq === Seq("col0", "col1"))
    assert(spark.sql(t("VALUES (1, 'a'), (2, 'b')")).columns.toSeq === Seq("col0", "col1"))
    assert(spark.sql(t("SELECT * FROM (VALUES (1, 2)) t(a, b)")).columns.toSeq === Seq("a", "b"))
    assert(spark.sql(t("SELECT * FROM (VALUES (1) UNION ALL VALUES (2)) t")).collect()
      .map(_.getInt(0)).toSeq === Seq(1, 2))
  }

  test("plain ANSI SQL passes through unmangled") {
    val sql = "SELECT a, sum(b) AS s FROM t WHERE c = 1 GROUP BY a ORDER BY s DESC LIMIT 3"
    val out = t(sql)
    // token-identical modulo whitespace and added expression parens
    assert(out.replaceAll("[()\\s]", "") === sql.replaceAll("[()\\s]", ""))
  }

  test("operator spellings rewrite") {
    assert(t("SELECT 2 ^ 10") === "SELECT power(2, 10)")
    assert(t("SELECT a ** b") === "SELECT power(a, b)")
    assert(t("SELECT a // b") === "SELECT `//`(a, b)")
    assert(t("SELECT 5!") === "SELECT factorial(5)")
    assert(t("SELECT @ x") === "SELECT abs(x)")
    assert(t("SELECT s ~ p") === "SELECT regexp_full_match(s, p)")
    assert(t("SELECT s ~~ 'a%'") === "SELECT (s LIKE 'a%')")
    assert(t("SELECT a <-> b") === "SELECT list_distance(a, b)")
    assert(t("SELECT a <=> b") === "SELECT list_cosine_distance(a, b)")
    assert(t("SELECT a && b") === "SELECT list_has_any(a, b)")
    assert(t("SELECT a @> b") === "SELECT list_has_all(a, b)")
    assert(t("SELECT a <@ b") === "SELECT list_has_all(b, a)")
    assert(t("SELECT s ^@ 'sp'") === "SELECT starts_with(s, 'sp')")
  }

  test("generic operators share one left-assoc level (reference precedence)") {
    // 1 | 2 & 3 << 2 = ((1|2) & 3) << 2 = 12 in DuckDB
    assert(t("SELECT 1 | 2 & 3 << 2") === "SELECT (((1 | 2) & 3) << 2)")
    // comparisons bind looser: (5 & 3) = 1
    assert(t("SELECT 5 & 3 = 1") === "SELECT ((5 & 3) = 1)")
    // + binds tighter than generic ops: 1 << (2 + 1)
    assert(t("SELECT 1 << 2 + 1") === "SELECT (1 << (2 + 1))")
    // power binds tightest, left-assoc: (2**3)**2
    assert(t("SELECT 2 ** 3 ** 2") === "SELECT power(power(2, 3), 2)")
  }

  test("literals, subscripts, named args, types rewrite") {
    assert(t("SELECT [1, 2, 3]") === "SELECT array(1, 2, 3)")
    assert(t("SELECT {'a': 1}") === "SELECT named_struct('a', 1)")
    assert(t("SELECT MAP {'k': 5}") === "SELECT map('k', 5)")
    assert(t("SELECT x[2]") === "SELECT list_extract(x, 2)")
    // string subscripts also route through the polymorphic
    // list_extract: struct field by name, map key → [value] list
    // (reference map_extract.cpp:30)
    assert(t("SELECT x['k']") === "SELECT list_extract(x, 'k')")
    assert(t("SELECT x[2:3]") === "SELECT duck_slice(x, 2, 3, false, false)")
    assert(t("SELECT x[2:]") === "SELECT duck_slice(x, 2, NULL, false, true)")
    assert(t("SELECT x[2:5:3]") === "SELECT duck_slice(x, 2, 5, 3, false, false)")
    assert(t("SELECT x[a:-:s]") === "SELECT duck_slice(x, a, NULL, s, false, true)")
    assert(t("SELECT struct_pack(a := 1, b := c)") === "SELECT named_struct('a', 1, 'b', c)")
    assert(t("SELECT struct_insert(s, v := 9)") === "SELECT struct_insert(s, 'v', 9)")
    // r11: integer-family cast targets round via graft_rint (the
    // reference's double→integral cast is rint, Spark's truncates —
    // and its decimal-cast HALF_UP differs from rint at 48.5)
    assert(t("SELECT x::UBIGINT") === "SELECT CAST(graft_rint(x) AS DECIMAL(20,0))")
    assert(t("SELECT x::HUGEINT") === "SELECT CAST(graft_rint(x) AS DECIMAL(38,0))")
    assert(t("SELECT CAST(x AS VARCHAR)") === "SELECT CAST(x AS STRING)")
    assert(t("SELECT CAST(x AS INT[])") === "SELECT CAST(x AS ARRAY<INTEGER>)")
    assert(t("SELECT CAST(x AS STRUCT(a INT, b VARCHAR))")
      === "SELECT CAST(x AS STRUCT<a: INTEGER, b: STRING>)")
  }

  test("double-quoted identifiers become backticks") {
    assert(t("""SELECT "my col" FROM "my tbl"""") === "SELECT `my col` FROM `my tbl`")
  }

  test("FROM-first statements") {
    assert(t("FROM nation") === "SELECT * FROM nation")
    assert(t("FROM nation SELECT n_name, n_regionkey")
      === "SELECT n_name , n_regionkey FROM nation")
  }

  test("star EXCLUDE becomes star EXCEPT") {
    assert(t("SELECT * EXCLUDE (a, b) FROM t") === "SELECT * EXCEPT (a, b) FROM t")
  }

  test("lambdas survive untouched (no parens around ->)") {
    assert(t("SELECT list_transform(l, x -> x + 1)")
      === "SELECT list_transform(l, x -> (x + 1))")
  }

  // ------------------------------------------------------ execution parity

  test("arithmetic operators match reference values") {
    assert(row("2 ^ 10, 3 ** 2") === Seq(1024.0, 9.0))
    assert(row("7 // 2, -7 // 2") === Seq(3L, -3L))
    assert(one("7.5 // 2") === 3.75)
    assert(one("5!") === 120L)
    assert(row("@(-7), @ -7") === Seq(7, 7))
  }

  test("pattern-match operators match reference values") {
    // `~` is a FULL match in the reference, unlike Spark's RLIKE
    assert(row("'abc' ~ 'a.c', 'abc' ~ 'b', 'abc' !~ 'b'")
      === Seq(true, false, true))
    assert(row("'abc' ~~ 'a%', 'abc' !~~ 'b%', 'ABC' ~~* 'a%'")
      === Seq(true, true, true))
    assert(one("'spark' ^@ 'sp'") === true)
  }

  test("list operators match reference values") {
    assert(one("[1.0,2.0] <-> [4.0,6.0]") === 5.0)
    // reference semantics: distance (driver's older DuckDB still says similarity)
    assert(math.abs(one("[1.0,0.0] <=> [1.0,0.0]").asInstanceOf[Double]) < 1e-12)
    assert(row("[1,2] && [2,3], [1,2,3] @> [3,2], [9] <@ [9,8]")
      === Seq(true, true, true))
  }

  test("subscripts and slices match reference values") {
    assert(row("[10,20,30][2], [10,20,30][-1]") === Seq(20, 30))
    assert(one("[10,20,30][2:3]") === Seq(20, 30))
    assert(one("[10,20,30][0]") === null)   // DuckDB: out-of-domain → NULL
    assert(one("[10,20,30][9]") === null)
    assert(one("'abcdef'[2:4]") === "bcd")
    assert(one("'abcdef'[-3:]") === "def")
    assert(one("'abcdef'[4:2]") === "")
    assert(one("len([1,2,3][2:])") === 2)
  }

  test("slice steps match the reference (test_list_slice_step.test)") {
    // positive steps
    assert(one("([1,2,3,4,5])[1:3:2]") === Seq(1, 3))
    assert(one("([1,2,3,4,5])[1:3:3]") === Seq(1))
    assert(one("([1,2,3,4,5,6])[1:5:2]") === Seq(1, 3, 5))
    assert(one("([1,2,3,4,5])[-4:-1:2]") === Seq(2, 4))
    assert(one("([1,2,3,4,5])[1:-:2]") === Seq(1, 3, 5))
    assert(one("([1,2,3,4,5])[:3:2]") === Seq(1, 3))
    assert(one("([1,2,3,4,5,6])[5:3:2]") === Seq())
    assert(one("([1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17])[1:17:20]") === Seq(1))
    assert(one("list_slice([1,2,3,4,5], 1, 3, 1)") === Seq(1, 2, 3))
    assert(one("list_slice([1,2,3,4,5], 1, 3, 2)") === Seq(1, 3))
    // negative steps (…_negative_step.test: reverse, flags swap roles)
    assert(one("list_slice([1,2,3,4,5], 1, 3, -1)") === Seq())
    assert(one("([1,2,3])[1:-:-1]") === Seq(1))
    assert(one("([1,2,3])[:3:-1]") === Seq(3))
    assert(one("([1,2,3,4,5])[:-:-1]") === Seq(5, 4, 3, 2, 1))
    assert(one("([1,2,3,4,5])[:-:-2]") === Seq(5, 3, 1))
    assert(one("list_slice([1,4,5,6,7,8], 3, 1, -2)") === Seq(5, 1))
    // NULL bound VALUES are NULL results (empties are not)
    assert(one("([1,2,3,4,5])[NULL:3]") === null)
    assert(one("list_slice(NULL, 1, 3, 2)") === null)
    // no-step clamping edges retained
    assert(one("([1,2,3,4,5,6])[-10:-10]") === Seq())
    assert(one("([1,2,3,4,5])[-1:3]") === Seq())
    assert(one("([1,2,3,4,5])[1:-3]") === Seq(1, 2, 3))
    assert(one("([1,2,3,4,5])[6:8]") === Seq())
    assert(one("([1,2,3,4,5])[1:10]") === Seq(1, 2, 3, 4, 5))
    assert(one("([1,2,3,4,5,6])[-9223372036854775808:5:2]") === Seq(1, 3, 5))
    // negative list_slice bounds through the function spelling
    assert(one("list_slice([1,2,3,4,5], -3, -1)") === Seq(3, 4, 5))
    // step 0 raises (reference: "Slice step cannot be zero")
    val e = intercept[Exception](one("([1,2,3,4,5])[1:3:0]"))
    assert(e.getMessage != null)
    // stepped string slices are a bind error in both engines
    intercept[Exception](one("'12345'[1:3:2]"))
  }

  test("struct literals and named-argument constructors") {
    assert(one("{'a': 1, 'b': 'x'}.a") === 1)
    assert(one("struct_pack(p := 42, q := 'y').q") === "y")
    assert(one("struct_insert({'k': 1}, v := 9).v") === 9)
    assert(one("struct_insert({'k': 1}, v := 9).k") === 1)
  }

  test("union_value with UNION cast carries the tag and the typed slot") {
    val u = "CAST(union_value(num := 3.5) AS UNION(num DOUBLE, txt VARCHAR))"
    assert(one(s"union_tag($u)") === "num")
    assert(one(s"union_extract($u, 'num')") === 3.5)
    assert(one(s"union_extract($u, 'txt')") === null)
  }

  test("generic-operator precedence matches the reference") {
    assert(one("1 | 2 & 3 << 2") === 12)
    assert(one("5 & 3 = 1") === true)
    assert(one("1 << 2 + 1") === 8L)
  }

  test("type spellings execute: unsigned ladder, hugeint, casts chain") {
    assert(one("255::UBIGINT").toString === "255")
    assert(one("CAST('17014118346046923173' AS HUGEINT) // 2").toString
      === "8.5070591730234614E18") // HUGEINT maps to DECIMAL → `//` divides
    assert(one("'2026-01-05 10:00:00'::TIMESTAMP::DATE").toString === "2026-01-05")
  }

  test("control flow: CASE, BETWEEN, IN, EXISTS subquery") {
    assert(one("CASE WHEN 2**3 = 8 THEN 'y' ELSE 'n' END") === "y")
    assert(one("3 BETWEEN 1 AND 5 AND 'x' ~~ 'x'") === true)
    assert(one("2 IN (1, 2, 3)") === true)
    assert(one("1 NOT IN (2, 3)") === true)
    val df = GraftSql.sql(spark,
      "SELECT n FROM (SELECT 1 AS n) t WHERE EXISTS (SELECT 1 WHERE 2 ** 2 = 4)")
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("whole-query translation over real tables") {
    val dir = sfDir
    graft.sources.Catalog.registerAll(spark, dir)
    // DuckDB text: ** power, // intdiv, ~~ like, FROM-first tail
    val duck =
      """SELECT n_regionkey, count(*) AS n,
        |       sum(n_nationkey // 2) AS halves
        |FROM nation
        |WHERE n_name !~~ 'Z%' AND len(n_name) ** 2 > 4
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin
    val rows = GraftSql.sql(spark, duck).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getLong(1)).sum === 25L)
    // and current_query() reflects the ORIGINAL dialect text
    assert(GraftSql.sql(spark, "SELECT current_query()").collect()(0).getString(0)
      === "SELECT current_query()")
    // … also where the front door rewrites the text before Spark sees it
    val described = "SELECT current_query() AS q, * FROM (DESCRIBE nation) LIMIT 1"
    assert(GraftSql.sql(spark, described).collect()(0).getString(0) === described)
    val byName = "SELECT current_query() AS q UNION ALL BY NAME SELECT 'x' AS r"
    assert(GraftSql.sql(spark, byName).collect().map(_.getString(0)).filter(_ != null).toSeq
      === Seq(byName))
  }

  test("QUALIFY rewrites to the window-column-then-filter shape") {
    val out = t("SELECT a, b FROM t WHERE c = 1 QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a")
    assert(out.startsWith("SELECT * EXCEPT (__qualify) FROM (SELECT a , b, CAST(("))
    assert(out.contains("AS BOOLEAN) AS __qualify FROM t WHERE"))
    assert(out.endsWith(") WHERE __qualify ORDER BY a"))
    // executes: top-1 order per customer on real data
    graft.sources.Catalog.registerAll(spark, sfDir)
    val rows = GraftSql.sql(spark,
      """SELECT o_custkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_custkey""".stripMargin).collect()
    assert(rows.length === spark.sql("SELECT count(DISTINCT o_custkey) FROM orders").collect()(0).getLong(0))
  }

  test("USING SAMPLE becomes TABLESAMPLE on the scanned relation") {
    assert(t("SELECT * FROM t USING SAMPLE 10%")
      === "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(t("SELECT * FROM t USING SAMPLE 50 ROWS")
      === "SELECT * FROM t TABLESAMPLE (50 ROWS)")
    assert(t("SELECT * FROM t USING SAMPLE 10% (reservoir)")
      === "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    graft.sources.Catalog.registerAll(spark, sfDir)
    val n = GraftSql.sql(spark, "SELECT * FROM orders USING SAMPLE 25 ROWS").count()
    assert(n === 25L)
  }

  test("DISTINCT ON keeps the first row per key in ORDER BY order") {
    graft.sources.Catalog.registerAll(spark, sfDir)
    val rows = GraftSql.sql(spark,
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin).collect()
    val nKeys = spark.sql("SELECT count(DISTINCT o_custkey) FROM orders")
      .collect()(0).getLong(0)
    assert(rows.length === nKeys)
    // each kept row is its customer's max-price order (key-tiebroken)
    val expect = spark.sql(
      """SELECT o_custkey, max_by(o_orderkey, struct(o_totalprice, -o_orderkey)) AS k
        |FROM orders GROUP BY o_custkey""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach(r => assert(expect(r.getLong(0)) === r.getLong(1)))
  }

  test("the whole oracle corpus translates without error") {
    assumeFiles(SparkEntry.allDefs.filter(_.hasOracle).flatMap(_.externalFiles))
    // every oracleSql text in the repo is a real DuckDB query; the
    // front door must never crash on one (unknown constructs pass
    // through). Execution parity is measured by `Probe dialectcheck`
    // (at sf0.01 all 301 texts it can read also RUN verbatim; the
    // five reference-backed texts are unreadable without the tree).
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val out = DuckDialect.translate(sql)
      assert(out.nonEmpty, s"$name translated to empty text")
    }
  }

  test("DISTINCT window aggregates rewrite via the frame's value set") {
    graft.sources.Catalog.registerAll(spark, sfDir)
    val rows = GraftSql.sql(spark,
      """SELECT o_custkey,
        |  count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey) AS n_prio
        |FROM orders ORDER BY o_custkey LIMIT 50""".stripMargin).collect()
    val expect = spark.sql(
      """SELECT o_custkey, count(DISTINCT o_orderpriority) AS n
        |FROM orders GROUP BY o_custkey""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach(r => assert(r.getLong(1) === expect(r.getLong(0))))
  }

  test("json_merge_patch follows RFC 7386") {
    assert(one("""json_merge_patch('{"a":1,"b":2}', '{"b":3,"c":4}')""")
      === """{"a":1,"b":3,"c":4}""")
    assert(one("""json_merge_patch('{"a":{"x":1,"y":2}}', '{"a":{"y":null,"z":3}}')""")
      === """{"a":{"x":1,"z":3}}""")
    assert(one("""json_merge_patch('{"a":1}', '"scalar"')""") === "\"scalar\"")
    assert(one("""json_merge_patch(NULL, '{"a":1}')""") === """{"a":1}""")
  }

  test("LIMIT n% takes the top fraction of the ordered result") {
    graft.sources.Catalog.registerAll(spark, sfDir)
    val df = GraftSql.sql(spark,
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10%")
    val total = spark.sql("SELECT count(*) FROM orders").collect()(0).getLong(0)
    assert(df.count() === total / 10)
    // and they really are the top rows
    val kept = df.collect().map(_.getDouble(1))
    val floor = kept.min
    val better = spark.sql(s"SELECT count(*) FROM orders WHERE o_totalprice > $floor")
      .collect()(0).getLong(0)
    assert(better <= kept.length)
  }

  test("SUMMARIZE and DESCRIBE statements route to the engine operators") {
    graft.sources.Catalog.registerAll(spark, sfDir)
    val desc = GraftSql.sql(spark, "DESCRIBE nation").collect()
    assert(desc.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("n_nationkey", "INTEGER"), ("n_name", "VARCHAR"), ("n_regionkey", "INTEGER")))
    val summ = GraftSql.sql(spark, "SUMMARIZE nation")
    assert(summ.columns.contains("column_name"))
    assert(summ.count() === 3)
  }

  // ------------------------------------------------------ introspection names

  test("introspection functions answer from the Spark session") {
    assert(one("current_setting('spark.sql.session.timeZone')") === "UTC")
    assert(one("current_schemas(true)").asInstanceOf[collection.Seq[_]].contains("default"))
    assert(one("in_search_path('spark_catalog', 'default')") === true)
    assert(one("in_search_path('nope', 'nope')") === false)
    val t1 = one("txid_current()").asInstanceOf[Long]
    val t2 = one("txid_current()").asInstanceOf[Long]
    assert(t2 > t1) // session-monotonic transaction ids
    assert(one("alias(42)") === "42")
    assert(spark.sql("SELECT alias(n_name) FROM nation LIMIT 1").collect()(0).get(0)
      === "n_name")
    // NB 2.0 parses as DECIMAL(2,1) in both engines; use real doubles
    assert(one("can_cast_implicitly(1, 2.5e0)") === true)
    assert(one("can_cast_implicitly(2.5e0, 1)") === false)
    assert(one("get_current_time()").toString matches """\d{2}:\d{2}:\d{2}\.\d{6}\+00""")
  }

  // ------------------------------------------------------ r5 ADVICE pins

  test("date_diff counts period CROSSINGS, not elapsed units (T-SQL)") {
    // every value below pinned in DuckDB 1.0.0 (reference
    // date_diff.cpp:31 cites the T-SQL datediff doc)
    assert(one("date_diff('year', DATE '2024-12-31', DATE '2025-01-01')") === 1L)
    assert(one("date_diff('year', DATE '2024-01-01', DATE '2024-12-31')") === 0L)
    assert(one("date_diff('month', DATE '2024-01-31', DATE '2024-02-01')") === 1L)
    assert(one("date_diff('month', DATE '2024-02-01', DATE '2024-01-31')") === -1L)
    assert(one("datediff('month', DATE '2024-01-31', DATE '2024-02-01')") === 1L)
    assert(one("date_diff('quarter', DATE '2024-03-31', DATE '2024-04-01')") === 1L)
    assert(one("date_diff('decade', DATE '2019-12-31', DATE '2020-01-01')") === 1L)
    assert(one("date_diff('century', DATE '1999-12-31', DATE '2000-01-01')") === 1L)
    assert(one("date_diff('day', TIMESTAMP '2024-01-01 23:59:59', " +
      "TIMESTAMP '2024-01-02 00:00:01')") === 1L)
    assert(one("date_diff('hour', TIMESTAMP '2024-01-01 10:59:00', " +
      "TIMESTAMP '2024-01-01 11:00:30')") === 1L)
    assert(one("date_diff('minute', TIMESTAMP '2024-01-01 10:00:59', " +
      "TIMESTAMP '2024-01-01 10:01:00')") === 1L)
    assert(one("date_diff('second', TIMESTAMP '2024-01-01 10:00:00.999', " +
      "TIMESTAMP '2024-01-01 10:00:01.001')") === 1L)
    assert(one("date_diff('millisecond', TIMESTAMP '2024-01-01 10:00:00.0009', " +
      "TIMESTAMP '2024-01-01 10:00:00.0011')") === 1L)
    assert(one("date_diff('isoyear', DATE '2024-12-30', DATE '2024-12-31')") === 0L)
    // WEEK follows the REFERENCE (date_diff.cpp:93: "not Monday
    // crossings, just distance" = day-delta / 7), which diverges from
    // the driver's DuckDB 1.0.0 (Monday crossings: Sun→Mon = 1 there).
    // Keep week-unit date_diff out of oracle SQL.
    assert(one("date_diff('week', DATE '2024-01-07', DATE '2024-01-08')") === 0L)
    assert(one("date_diff('week', DATE '2024-01-01', DATE '2024-01-08')") === 1L)
    assert(one("date_diff('week', DATE '2024-01-08', DATE '2024-01-01')") === -1L)
  }

  test("regexp_replace options: 'g' = global, otherwise FIRST match only") {
    assert(one("regexp_replace('aaa', 'a', 'b', 'g')") === "bbb")
    assert(one("regexp_replace('aaa', 'a', 'b', '')") === "baa")
    assert(one("regexp_replace('AaA', 'a', 'b', 'i')") === "baA")
    assert(one("regexp_replace('AaA', 'a', 'b', 'gi')") === "bbb")
    // reference \1 backref spelling in the replacement (raw literal
    // bypasses Spark's string-escape processing)
    assert(spark.sql("""SELECT regexp_replace('ab ab', '(a)(b)', r'\2\1', '')""")
      .collect()(0).get(0) === "ba ab")
  }

  test("// with a zero divisor yields NULL on both branches") {
    assert(one("7 // 0") === null)
    assert(one("7.5 // 0.0") === null)
    assert(one("7.5e0 // 0.0e0") === null)
  }
}
