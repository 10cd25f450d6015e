package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Catalog

/** Scalar-function surface F49–F57: the list set-operation tail,
  * dynamic star expressions (* REPLACE, COLUMNS, typeof), JSON
  * construction, Unicode normalization, temporal constructors,
  * PREPARE/EXECUTE, verbatim list SQL, and corr/any_value — closing
  * the last uncovered names under the reference's
  * src/core_functions/scalar/{list,generic,string,date},
  * core_functions/aggregate/{algebraic,distributive}, and its
  * bundled JSON extension.
  *
  * Array-valued intermediates always render as joined strings before
  * they reach the driver's hash gate (the f24 lesson).
  */
object FunctionsQ6 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** typeof() constant-folds from the catalog schema in both engines —
    * the honest Spark analog is schema introspection (DuckTypes).
    */
  private def duckTypeName(dt: DataType): String = DuckTypes.name(dt)

  val defs: Seq[QDef] = Seq(

    // F49: list set operations (scalar/list/*.cpp): list_unique is a
    // COUNT of distinct non-NULL elements, list_intersect dedups (so
    // does Spark's array_intersect — sorted render pins the order),
    // array_slice has INCLUSIVE bounds (Spark slice takes a length),
    // list_aggregate('sum') is the lambda-free fold, list_where is a
    // boolean mask gather. All
    // elements BIGINT; pure per-row map work — nothing shuffles.
    QDef.text("f49_list_set_ops",
      """SELECT p_partkey,
        |  CAST(list_unique([p_partkey % 7, p_partkey % 5, p_partkey % 7, p_partkey % 3]) AS BIGINT) AS uniq,
        |  array_to_string(list_sort(list_intersect(
        |    [p_partkey % 7, p_partkey % 5, p_partkey % 7, p_partkey % 3],
        |    [p_partkey % 5, p_partkey % 3, CAST(4 AS BIGINT)])), ',') AS inter,
        |  array_to_string(array_slice(
        |    [p_partkey % 7, p_partkey % 5, p_partkey % 7, p_partkey % 3], 2, 3), ',') AS sl,
        |  CAST(list_aggregate([p_partkey % 7, p_partkey % 5, p_partkey % 7, p_partkey % 3], 'sum') AS BIGINT) AS asum,
        |  array_to_string(list_where(
        |    [p_partkey % 7, p_partkey % 5, p_partkey % 7, p_partkey % 3],
        |    [true, false, p_partkey % 2 = 0, true]), ',') AS wh
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F50: SELECT * EXCLUDE ... REPLACE ... (the reference's star
    // expression modifiers, parser/expression/star_expression.cpp).
    // REPLACE keeps the column's position and EXCLUDE drops it. Pure
    // projection.
    QDef.text("f50_star_replace",
      """SELECT * EXCLUDE (n_regionkey)
        |       REPLACE (lower(n_name) AS n_name, n_nationkey * 10 AS n_nationkey)
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // F51: COLUMNS('regex') — dynamic multi-column application
    // (star_expression.cpp's columns flag) + typeof
    // (scalar/generic/typeof.cpp). DuckDB expands COLUMNS at bind
    // time against the catalog schema; the Spark analog is the same
    // expansion done programmatically over df.columns, aliased to the
    // bare column names DuckDB emits. typeof constant-folds from the
    // schema in both engines — the value never touches row data.
    QDef.sql("f51_columns_multi",
      """SELECT min(COLUMNS('o_(orderkey|custkey)')),
        |       max(COLUMNS('o_totalprice')),
        |       min(typeof(o_orderkey)) AS t_key,
        |       min(typeof(o_totalprice)) AS t_price,
        |       min(typeof(o_orderdate)) AS t_date,
        |       min(typeof(o_orderpriority)) AS t_pri
        |FROM orders""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val minCols = o.columns.filter(_.matches("o_(orderkey|custkey)"))
        .map(c => min(col(c)).as(c))
      val maxCols = o.columns.filter(_.matches("o_totalprice"))
        .map(c => max(col(c)).as(c))
      val typeCols = Seq(
        "o_orderkey" -> "t_key", "o_totalprice" -> "t_price",
        "o_orderdate" -> "t_date", "o_orderpriority" -> "t_pri").map {
        case (c, a) => min(lit(duckTypeName(o.schema(c).dataType))).as(a)
      }
      val all = minCols ++ maxCols ++ typeCols
      o.agg(all.head, all.tail: _*)
    },

    // F52: JSON construction (the reference's bundled json extension:
    // to_json, row_to_json, json_keys, json_merge_patch). Both
    // engines serialize {int,string} structs as compact
    // insertion-ordered JSON, so the bytes match without snapping;
    // json_keys renders as a joined list. Doubles are deliberately
    // kept out of the JSON — number formatting is the one divergent
    // surface. row_to_json ≡ to_json(struct(...)).
    QDef.text("f52_json_construct",
      """SELECT o_orderkey,
        |  to_json({'k': o_orderkey, 's': o_orderpriority}) AS j1,
        |  json_merge_patch(to_json({'a': o_orderkey % 10}),
        |                   to_json({'b': o_custkey % 10})) AS jm,
        |  array_to_string(json_keys(to_json(
        |    {'x': o_orderkey, 'y': o_orderpriority, 'z': o_orderstatus})), ',') AS jk,
        |  row_to_json(struct_pack(k := o_orderkey, c := o_orderstatus)) AS rj
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F53: Unicode normalization + split tail. strip_accents is
    // utf8proc NFD+STRIPMARK (function/scalar/string/strip_accents
    // .cpp) — here a codegen'd JDK-Normalizer expression
    // (plans/UnicodeKernels.scala); accented input is manufactured by
    // translate so the round-trip must reproduce p_name exactly.
    // nfc_normalize composes an explicit combining acute. split_part
    // is 1-based, negative counts from the end, out-of-range → '' —
    // identical contracts in both engines. regexp_split_to_array ≡
    // Spark split (both keep leading/trailing empties).
    QDef.sql("f53_string_normalize",
      """SELECT p_partkey,
        |  strip_accents(translate(p_name, 'aeiou', 'áéîöû')) AS sa,
        |  nfc_normalize(p_brand || 'e' || chr(769)) AS nfc,
        |  split_part(p_type, ' ', 2) AS sp2,
        |  split_part(p_type, ' ', -1) AS spl,
        |  split_part(p_type, ' ', 9) AS sp9,
        |  array_to_string(regexp_split_to_array(p_name, '[aeiou]+'), '|') AS rs
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      import graft.plans.UnicodeFns
      t(s, dir, "part").select(
        col("p_partkey"),
        UnicodeFns.stripAccents(translate(col("p_name"), "aeiou", "áéîöû")).as("sa"),
        UnicodeFns.nfcNormalize(concat(col("p_brand"), lit("é"))).as("nfc"),
        expr("split_part(p_type, ' ', 2)").as("sp2"),
        expr("split_part(p_type, ' ', -1)").as("spl"),
        expr("split_part(p_type, ' ', 9)").as("sp9"),
        array_join(split(col("p_name"), "[aeiou]+"), "|").as("rs"))
        .orderBy(col("p_partkey"))
    },

    // F54: temporal constructors — make_timestamp from parts
    // (scalar/date/make_date.cpp's timestamp sibling) and yearweek
    // (date_part.cpp), which is ISO year * 100 + ISO week (both
    // cross year boundaries together: 2021-01-01 → 202053).
    QDef.text("f54_temporal_make",
      """SELECT o_orderkey,
        |  make_timestamp(year(o_orderdate), month(o_orderdate), day(o_orderdate),
        |                 12, 34, 56.789) AS mts,
        |  CAST(yearweek(o_orderdate) AS BIGINT) AS yw
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // F55: PREPARE / EXECUTE (reference
    // src/parser/statement/prepare_statement.cpp + execute_statement
    // .cpp). The Spark-native analog is the parameterized
    // spark.sql(text, args) front door — the SQL text carries named
    // placeholders, values bind at execution, the plan is compiled
    // once per bind exactly like EXECUTE. The oracle is the same
    // query with the parameters bound as literals (what EXECUTE
    // evaluates to).
    QDef.sql("f55_prepared",
      """SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS mx
        |FROM orders
        |WHERE o_totalprice > 150000.0
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_prep")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS mx
          |FROM orders_prep
          |WHERE o_totalprice > :lo AND o_orderdate >= CAST(:cut AS TIMESTAMP)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
        Map("lo" -> 150000.0, "cut" -> "1995-01-01 00:00:00"))
    },

    // F56: verbatim list-function SQL — the f49 family registered
    // under the reference's names as expression trees (list_unique,
    // list_intersect, list_sort, array_to_string, array_slice,
    // list_aggregate, list_where, yearweek; FunctionTable lambda-built
    // HOFs). One query text, both engines — the f43 proof shape.
    QDef.text("f56_sql_lists",
      """SELECT p_partkey,
        |  CAST(list_unique(list_value(p_partkey % 7, p_partkey % 5, p_partkey % 3)) AS BIGINT) AS uniq,
        |  array_to_string(list_sort(list_intersect(
        |    list_value(p_partkey % 7, p_partkey % 5), list_value(p_partkey % 5, p_partkey % 3))), ',') AS inter,
        |  array_to_string(array_slice(list_value(p_partkey % 7, p_partkey % 5, p_partkey % 3), 2, 3), ',') AS sl,
        |  CAST(list_aggregate(list_value(p_partkey % 7, p_partkey % 5, p_partkey % 3), 'sum') AS BIGINT) AS asum,
        |  CAST(list_aggregate(list_value(p_partkey % 7, p_partkey % 5, p_partkey % 3), 'max') AS BIGINT) AS amax,
        |  array_to_string(list_where(list_value(p_partkey % 7, p_partkey % 5, p_partkey % 3),
        |    list_value(true, p_partkey % 2 = 0, false)), ',') AS wh,
        |  yearweek(DATE '1995-01-01') AS yw
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F57: corr (algebraic/corr.cpp) + any_value
    // (distributive/arbitrary.cpp). corr follows the f27 float
    // discipline — exact DECIMAL moments, VARCHAR round-trip on the
    // oracle side (DuckDB's wide-decimal→double cast double-rounds),
    // then the √-only arrangement cxy/(√cxx·√cyy): every step is
    // IEEE exact-rounded, so the doubles hash raw. any_value is
    // nondeterministic under parallel scans by contract, so it is
    // pinned over input CONSTANT within each group — the one shape
    // where both engines must agree.
    QDef.text("f57_corr_any",
      """WITH m AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(CAST(SUM(xd) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(yd) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(xd*xd) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(yd*yd) AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(SUM(xd*yd) AS VARCHAR) AS DOUBLE) AS sxy,
        |    any_value(substr(o_orderstatus, 1, 1)) AS tag
        |  FROM (SELECT o_orderstatus,
        |          CAST(o_totalprice AS DECIMAL(18,2)) AS xd,
        |          CAST(o_custkey AS DECIMAL(12,0)) AS yd
        |        FROM orders)
        |  GROUP BY o_orderstatus)
        |SELECT o_orderstatus, CAST(n AS BIGINT) AS cnt, tag,
        |  (sxy - (sx*sy)/n)
        |    / (sqrt(sxx - (sx*sx)/n) * sqrt(syy - (sy*sy)/n)) AS r
        |FROM m ORDER BY o_orderstatus""".stripMargin)
  )
}
