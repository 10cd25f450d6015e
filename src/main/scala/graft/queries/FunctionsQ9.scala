package graft.queries

import graft.GraftSql
import graft.sources.Catalog

/** F76–F78: the DuckDB-dialect front door (plans/DuckDialect +
  * plans/DuckNames), oracle-gated with ONE query text per entry —
  * the text below runs verbatim in DuckDB (the oracle) and through
  * `GraftSql.sql` on Spark, where the dialect-only spellings
  * (operator aliases, `k := v` named arguments, 1-based subscripts,
  * struct literals, FROM-first statements) are translated into
  * Catalyst-native SQL. This is the strongest proof shape the
  * correctness gate supports: there is no hand-matched Spark plan to
  * drift — the translation itself is under the hash.
  *
  * Version notes (driver's DuckDB is older than the reference):
  * `<=>` (reference: list_cosine_distance) still binds to cosine
  * SIMILARITY there, and MAP subscripts return single-element lists
  * — both pinned against the REFERENCE semantics in DuckDialectSpec
  * instead of here. The `!` factorial argument is cast to INTEGER
  * because the driver build only ships !__postfix(INTEGER).
  */
object FunctionsQ9 {

  val defs: Seq[QDef] = Seq(
    // F76: operator spellings — power, truncating int division,
    // postfix factorial, prefix abs, bit ops at the reference's
    // single generic precedence level, full-match regex, LIKE
    // spellings, prefix test. Every computed column CAST to a
    // portable type: `**` is DOUBLE in both engines, but `//` is
    // INTEGER/BIGINT by input width and `!` is HUGEINT in the
    // reference — BIGINT keeps the hash comparable.
    QDef.text("f76_dialect_ops",
      """SELECT p_partkey,
        | CAST(p_partkey ** 2 AS BIGINT) AS sq,
        | CAST(p_partkey // 7 AS BIGINT) AS dv,
        | CAST((CAST(p_partkey % 5 AS INTEGER))! AS BIGINT) AS fact,
        | CAST(@(p_size - 25) AS BIGINT) AS dist,
        | CAST((p_partkey & 15) | ((p_partkey >> 2) << 1) AS BIGINT) AS bits,
        | (p_name ~ '.* (bolt|gear)') AS fullm,
        | (p_name ~~ '%ol%') AS likem,
        | (p_name ^@ 'b') AS pref
        |FROM part WHERE p_partkey // 3 * 3 = p_partkey
        |ORDER BY p_partkey""".stripMargin),

    // F77: literal forms and named arguments — 1-based list
    // subscripts, inclusive string slices (negative-from-end), the
    // polymorphic len, struct literals with dot access, struct_pack /
    // struct_insert `k := v`.
    QDef.text("f77_dialect_literals",
      """SELECT n_nationkey,
        | string_split(n_name, '_')[1] AS first_seg,
        | n_name[2:4] AS mid,
        | n_name[-2:] AS tail,
        | CAST(len(string_split(n_name, '_')) AS BIGINT) AS n_segs,
        | {'k': n_nationkey, 'nm': n_name}.nm AS s_nm,
        | struct_pack(a := n_nationkey + 1, b := lower(n_name)).b AS packed_b,
        | struct_insert({'pk': n_nationkey}, dbl := n_nationkey * 2).dbl AS ins_dbl
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // F78: FROM-first statement syntax + tagged-union construction
    // through the dialect (CAST(union_value(k := v) AS UNION(...)) —
    // the translator emits the engine's tagged-struct encoding, f47's
    // hand-built shape, from the reference's own spelling).
    QDef.text("f78_dialect_union",
      """FROM events SELECT event_id,
        | union_tag(CASE WHEN event_type = 'click'
        |   THEN CAST(union_value(num := value) AS UNION(num DOUBLE, txt VARCHAR))
        |   ELSE CAST(union_value(txt := event_type) AS UNION(num DOUBLE, txt VARCHAR)) END) AS tag,
        | CAST(value // 10 AS DOUBLE) AS dec_band
        |WHERE event_id // 100 = 3 ORDER BY event_id""".stripMargin),

    // F80: QUALIFY through the dialect — the translator emits q29's
    // window-column-then-filter shape from the reference's own
    // spelling (deterministic: full ordering ties broken by key).
    QDef.text("f80_dialect_qualify",
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin),

    // F59: ENUM as a dictionary mapping (plans/EnumTypes — reference
    // scalar/enum/enum_functions.cpp; EnumSpec pins the function
    // semantics against DuckDB's own enum build). The Spark side runs
    // CREATE TYPE + the enum machinery through the front door; the
    // oracle spells the SAME values with the dictionary expanded
    // (the driver's one-statement oracle cannot CREATE TYPE first) —
    // enum_code is the 0-based definition position, enum_first/last
    // fold from the type.
    QDef.sql("f59_enum",
      """SELECT o_orderstatus AS st,
        |  CAST(CASE WHEN o_orderstatus = 'F' THEN 0
        |            WHEN o_orderstatus = 'O' THEN 1
        |            WHEN o_orderstatus = 'P' THEN 2 END AS BIGINT) AS code,
        |  'F' AS first_v, 'P' AS last_v,
        |  count(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      Catalog.registerAll(s, dir)
      GraftSql.sql(s, "DROP TYPE IF EXISTS ostatus")
      GraftSql.sql(s, "CREATE TYPE ostatus AS ENUM ('F', 'O', 'P')")
      GraftSql.sql(s,
        """SELECT o_orderstatus AS st,
          |  CAST(enum_code(o_orderstatus::ostatus) AS BIGINT) AS code,
          |  enum_first(NULL::ostatus) AS first_v,
          |  enum_last(NULL::ostatus) AS last_v,
          |  count(*) AS n
          |FROM orders
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
    }
  )
}
