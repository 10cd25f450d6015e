package graft.queries

import graft.GraftSql
import graft.sources.Catalog

/** F81–F85: round-7 dialect/statement coverage, oracle-gated with
  * ONE verbatim text per entry (the FunctionsQ9 proof shape — the
  * same text runs in DuckDB and through `GraftSql.sql`):
  *
  *   F81 statement-form PIVOT (plans/PivotStmt;
  *       reference transform_pivot_stmt.cpp / bind_pivot.cpp)
  *   F82 statement-form UNPIVOT with INTO NAME/VALUE
  *   F83 list slicing with steps + 4-arg list_slice
  *       (DuckNames.DuckSlice; reference array_slice.cpp)
  *   F84 quantified comparisons ANY/ALL/SOME over subqueries
  *       (translator rewrite to aggregated scalar subqueries)
  *   F85 ordered aggregates — list(x ORDER BY k), first/last with
  *       ORDER BY (struct-sort / min_by / max_by rewrites)
  *
  * Aggregate outputs stick to count/min/max/list so both engines
  * produce identical types (DuckDB widens sum(BIGINT) to HUGEINT,
  * which the driver's pandas hash reads as float64 — the r4/r5
  * lesson).
  */
object FunctionsQ10 {

  val defs: Seq[QDef] = Seq(
    QDef.text("f81_pivot_stmt",
      """SELECT * FROM (
        |  PIVOT (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
        |  ON l_returnflag USING min(q) AS lo, count(*) AS cnt GROUP BY l_linestatus)
        |ORDER BY l_linestatus""".stripMargin),

    QDef.text("f82_unpivot_stmt",
      """SELECT o_orderkey, k, v FROM (
        |  UNPIVOT (SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
        |           CAST(floor(o_totalprice) AS BIGINT) AS sp
        |           FROM orders WHERE o_orderkey < 500)
        |  ON ck, sp INTO NAME k VALUE v)
        |ORDER BY o_orderkey, k""".stripMargin),

    // list outputs rendered via array_to_string: the driver's pandas
    // hash gate cannot sort raw LIST cells (the F41 lesson, re-learned
    // in r7 — VERDICT r7 "What's wrong" #1)
    QDef.text("f83_slice_step",
      """SELECT n_nationkey,
        | array_to_string(([n_nationkey, n_nationkey+1, n_nationkey+2, n_nationkey+3, n_nationkey+4, n_nationkey+5])[2:5:2], ',') AS s1,
        | array_to_string(([n_nationkey, n_nationkey+1, n_nationkey+2])[:-:-1], ',') AS s2,
        | array_to_string(([n_nationkey, n_nationkey+1, n_nationkey+2, n_nationkey+3])[-3:-1], ',') AS s3,
        | array_to_string(list_slice([n_nationkey, n_nationkey+1, n_nationkey+2, n_nationkey+3], 1, 3, 2), ',') AS s4,
        | (n_name)[2:4] AS s5
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    QDef.text("f84_quantified",
      """SELECT n_nationkey, n_name,
        | n_nationkey > ANY(SELECT r_regionkey FROM region) AS any_gt,
        | n_nationkey >= ALL(SELECT r_regionkey FROM region) AS all_ge,
        | n_nationkey = SOME(SELECT r_regionkey FROM region WHERE r_regionkey > 99) AS some_empty
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // the window ORDER BY must be TOTAL: (orderkey, linenumber) has
    // duplicates in the testdata, and a ROWS frame over a tied order
    // is nondeterministic in both engines
    QDef.text("f86_window_filter",
      """SELECT l_linestatus, l_orderkey, l_linenumber,
        | CAST(sum(l_quantity) FILTER (WHERE l_returnflag = 'R') OVER (
        |   PARTITION BY l_linestatus
        |   ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW)
        |  AS BIGINT) AS rq
        |FROM lineitem WHERE l_orderkey < 2000
        |ORDER BY l_linestatus, l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin),

    QDef.text("f87_chaining",
      """SELECT p_partkey, p_name.upper().replace('OL', '#') AS chained,
        | p_name.split(' ')[1].lower() AS first_word
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin),

    QDef.text("f88_asof_right",
      """SELECT event_id, o_orderkey
        |FROM orders ASOF RIGHT JOIN events
        |ON o_custkey = user_id AND CAST(o_orderdate AS TIMESTAMP) <= ts
        |ORDER BY event_id, o_orderkey""".stripMargin),

    // F89: HUGEINT (INT128) past DECIMAL(38) — literals, + - * // %,
    // mixed int operands, comparisons, VARCHAR render (plans/Hugeint:
    // order-preserving 16-byte encoding, BigInteger kernels;
    // reference src/common/types/hugeint.cpp). The same text renders
    // identical strings on both engines.
    QDef.text("f89_hugeint",
      """SELECT n_nationkey,
        | CAST('170141183460469231731687303715884105727'::HUGEINT - n_nationkey AS VARCHAR) AS sub_edge,
        | CAST(('150000000000000000000000000000000000000'::HUGEINT // 3 + n_nationkey) * 3 AS VARCHAR) AS mul_big,
        | CAST('100000000000000000000000000000000000000'::HUGEINT // (n_nationkey + 1) AS VARCHAR) AS div_big,
        | CAST('100000000000000000000000000000000000000'::HUGEINT % (n_nationkey + 7) AS VARCHAR) AS mod_big,
        | ('100000000000000000000000000000000000000'::HUGEINT + n_nationkey) > '100000000000000000000000000000000000005'::HUGEINT AS gt_mid,
        | CAST('-170141183460469231731687303715884105728'::HUGEINT + n_nationkey AS VARCHAR) AS min_plus,
        | CAST('340282366920938463463374607431768211455'::UHUGEINT - n_nationkey::UHUGEINT AS VARCHAR) AS umax_minus
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // F90 (r11 dialect tail): GLOB operator (literal patterns compile
    // to anchored regexes), DATE/TIMESTAMP infinity sentinels (the
    // reference's ±INT32/INT64_MAX extremes — ordering identical;
    // only their RENDERING diverges, so the row compares booleans),
    // short-year temporal literals, huge-exponent literals (1e1000 =
    // inf), glued/repeated interval units, DISTINCT ON with ordinal
    // key + trailing LIMIT. One text, both engines.
    QDef.text("f90_dialect_tail",
      """SELECT
        | '3' GLOB '[0-9]' AS g1, '012' GLOB '[0-9][0-9][0-9]' AS g2,
        | 'a' GLOB '[!0-9]' AS g3, '3]' GLOB '[]3][]]' AS g4,
        | '6' GLOB '[1-35-7]' AS g5, 'abc' GLOB 'a*c' AS g6,
        | NOT ('abc' GLOB 'A*') AS g7, 'b3' GLOB '[abc0-9][abc0-9]' AS g8,
        | DATE 'infinity' > DATE '9999-12-31' AS i1,
        | TIMESTAMP '-infinity' < TIMESTAMP '0001-01-01 00:00:00' AS i2,
        | DATE 'epoch' = DATE '1970-01-01' AS i3,
        | century(TIMESTAMP '209-03-22') AS c1,
        | year(TIMESTAMP '-8-01-01 00:00:01.5') AS c2,
        | 1e1000 = 'inf'::DOUBLE AS e1, -1e1000 < -1e308 AS e2,
        | INTERVAL '25months' = INTERVAL '2 years 1 month' AS v1,
        | (SELECT count(*) FROM (SELECT DISTINCT ON (1) o_custkey, o_orderkey FROM orders
        |    ORDER BY o_custkey, o_orderkey LIMIT 5) __d) AS d1
        |""".stripMargin),

    // F91 (r11): aggregate state export — `agg(x) EXPORT_STATE`,
    // FINALIZE, COMBINE (test_state_export.test). The state is a
    // transparent mergeable struct here vs the reference's opaque
    // blob, so the comparable surface is FINALIZE outputs — which is
    // also the part a user consumes. One text, both engines (DuckDB
    // runs its native states).
    QDef.text("f91_state_export",
      """SELECT n_regionkey,
        | finalize(count(*) EXPORT_STATE)::BIGINT AS c,
        | finalize(sum(n_nationkey) EXPORT_STATE)::BIGINT AS s,
        | finalize(avg(n_nationkey) EXPORT_STATE) AS av,
        | finalize(min(n_nationkey) EXPORT_STATE)::BIGINT AS mn,
        | finalize(max(n_nationkey) EXPORT_STATE)::BIGINT AS mx,
        | finalize(combine(sum(n_nationkey) EXPORT_STATE, sum(n_nationkey) EXPORT_STATE))::BIGINT AS s2
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // F92 (r11): integer-cast rounding parity — the reference's
    // numeric→integral CAST rounds (double: half to even; decimal and
    // parsed strings: half away from zero) where Spark truncates;
    // integer cast targets route through graft_rint (DuckNames
    // .DuckRint). One text, both engines.
    QDef.text("f92_cast_rounding",
      """SELECT 49.5::DOUBLE::INTEGER AS a, 48.5::DOUBLE::INTEGER AS b,
        | (-49.5)::DOUBLE::INTEGER AS c, CAST(2.7::DOUBLE AS INTEGER) AS d,
        | CAST(CAST(48.5 AS DECIMAL(4,1)) AS INTEGER) AS e,
        | CAST(CAST(-49.5 AS DECIMAL(4,1)) AS INTEGER) AS f,
        | '48.5'::INTEGER AS g, '-48.5'::INTEGER AS h,
        | TRY_CAST('abc' AS INTEGER) AS i, TRY_CAST('48.5' AS INTEGER) AS j""".stripMargin),

    // F93 (r11): JSON from-the-end path indices `[-N]` / `[#-N]`
    // (test_json_extract.test:163-226) — resolved through
    // json_array_length chains at query time; out-of-range and
    // non-array prefixes yield NULL in both engines.
    QDef.text("f93_json_negidx",
      """SELECT
        | CAST(json_extract('{"b": [1,2,3,4]}', '$.b[#-1]') AS BIGINT) AS a,
        | CAST(json_extract('{"b": [1,2,3,4]}', '$.b[-2]') AS BIGINT) AS b,
        | CAST(json_extract('{"b": [1,2,3,4]}', '$.b[#-0]') AS BIGINT) AS c,
        | json_extract('{"b": [1,2,3,4]}', '$.b[#-5]') IS NULL AS d,
        | json_extract('{"a": 1}', '$.a[#-1]') IS NULL AS e,
        | CAST('{"b": [[1,2],[3]]}'->'$.b[#-2][#-1]' AS BIGINT) AS f""".stripMargin),

    QDef.text("f85_ordered_agg",
      """SELECT n_regionkey,
        | array_to_string(list(n_name ORDER BY n_name DESC), ',') AS names_desc,
        | array_to_string(list(n_nationkey ORDER BY n_name), ',') AS keys_by_name,
        | first(n_name ORDER BY n_nationkey) AS first_name,
        | last(n_name ORDER BY n_nationkey) AS last_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // F95 (r14): repeat()/repeat_row() TABLE functions
    // (reference src/function/table/repeat.cpp, repeat_row.cpp;
    // plans/TableFns rewrites them to range()-backed derived tables
    // at translate time). One text, both engines — DuckDB 1.0 ships
    // both. repeat's output column is named by the value's literal
    // text (RepeatBind pushes inputs[0].ToString()).
    QDef.text("f95_repeat_tf",
      """SELECT r."graft" AS rep_val, rr.column0 AS c0, rr.column1 AS c1,
        | n_nationkey
        |FROM repeat('graft', 2) r
        |CROSS JOIN repeat_row(7, 'y', num_rows=2) rr
        |CROSS JOIN nation
        |WHERE n_nationkey < 3
        |ORDER BY n_nationkey, rep_val""".stripMargin),

    // F94 (r14): query() / query_table() dynamic relations
    // (reference src/function/table/query_function.cpp;
    // test/sql/catalog/function/query_function.test). The oracle
    // engine (DuckDB 1.0) PREDATES both functions (they ship in 1.1),
    // so the oracle text is the binder-inlined equivalent — which is
    // exactly what plans/TableFns produces, so the gate hashes the
    // translation itself. The reference-corpus error/edge semantics
    // are pinned in TableFnsSpec.
    QDef.sql("f94_query_tf",
      """SELECT q.n_regionkey, q.n AS n_grp, count(*) AS n_tbl
        |FROM (SELECT n_regionkey, count(*) AS n
        |      FROM nation GROUP BY n_regionkey) q
        |JOIN (SELECT * FROM nation UNION ALL SELECT * FROM nation) t
        |  ON t.n_regionkey = q.n_regionkey
        |GROUP BY q.n_regionkey, q.n
        |ORDER BY q.n_regionkey""".stripMargin) { (s, dir) =>
      Catalog.registerAll(s, dir)
      GraftSql.sql(s,
        """SELECT q.n_regionkey, q.n AS n_grp, count(*) AS n_tbl
          |FROM query('SELECT n_regionkey, count(*) AS n
          |            FROM nation GROUP BY n_regionkey') q
          |JOIN query_table([nation, nation]) t
          |  ON t.n_regionkey = q.n_regionkey
          |GROUP BY q.n_regionkey, q.n
          |ORDER BY q.n_regionkey""".stripMargin)
    })
}
