package graft.queries

import graft.GraftSql

/** Round-10 window surface: the two frame classes the reference
  * evaluates natively and Spark's window exec cannot express —
  *
  *  - non-literal ROWS frame bounds (per-row boundary expressions,
  *    reference test/sql/window/test_boundary_expr.test,
  *    src/execution/window_executor.cpp WindowBoundariesState) →
  *    SqlPasses.windowExprBoundsPass: partition collected once,
  *    per-row slice + graft_frame_agg reduce;
  *  - EXCLUDE over holistic aggregates / frames the algebraic
  *    rewrite can't reach (reference window_segment_tree exclusion
  *    over mode/quantile/mad, test/sql/window/test_window_exclude
  *    .test median cases) → SqlPasses.excludeFallback:
  *    (order-keys…, value) structs collected over the NAMED frame,
  *    exclusion applied in graft_exclude_agg.
  *
  * Both entries run the IDENTICAL text on DuckDB (native support) —
  * the oracle checks values, not just plumbing. Sums ride fixed-point
  * BIGINT units (floor(v·100+0.5)); median/mad/quantile_cont
  * interpolate the same lower+(upper−lower)·frac formula in both
  * engines over the same exact inputs, so doubles compare bit-equal
  * (the f24 entry proved the formula identity).
  *
  * Scale: per-row cost is O(frame), per-partition memory O(partition)
  * — the reference's own cost for these features. Partitions are
  * user-keyed (o_custkey / user_id); nothing collects across keys.
  */
object RelationalH {

  val defs: Seq[QDef] = Seq(

    // R71: per-row frame bounds. The bound expressions vary row by
    // row (o_orderkey % 3 / % 2); DuckDB evaluates them natively,
    // Spark through the collected-partition rewrite. SUM pins the
    // distributive path, MEDIAN the holistic one, COUNT(*) the
    // row-counting (frame-clamp) arithmetic at partition edges.
    QDef.text("q70_frame_expr_bounds",
      """SELECT o_orderkey, o_custkey,
        | CAST(SUM(v) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN (o_orderkey % 3) PRECEDING AND (o_orderkey % 2) FOLLOWING) AS BIGINT) AS s_var,
        | CAST(MEDIAN(v) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN (o_orderkey % 5) PRECEDING AND CURRENT ROW) AS DOUBLE) AS m_var,
        | CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN (o_orderkey % 3) PRECEDING AND (o_orderkey % 2) FOLLOWING) AS BIGINT) AS n_var
        |FROM (SELECT o_orderkey, o_custkey,
        |        CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS v
        |      FROM orders)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // R72: EXCLUDE over holistic aggregates + the bounded-ROWS
    // exclusion the algebra can't serve. Full-partition frames are
    // ordered by a deliberately TIED key (hour bucket) so peer
    // groups are real — deterministic because RANGE/unbounded frames
    // always contain whole peer groups; the bounded ROWS frames use
    // a unique (hb, event_id) order, the only deterministic choice
    // either engine offers for bounded ROWS.
    QDef.text("q71_exclude_holistic",
      """SELECT user_id, event_id,
        | CAST(MEDIAN(v) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS DOUBLE) AS med_grp,
        | CAST(MAD(v) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS DOUBLE) AS mad_ties,
        | CAST(QUANTILE_CONT(v, 0.25) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS DOUBLE) AS q25_cur,
        | CAST(QUANTILE_DISC(v, 0.75) OVER (wf RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS q75d_grp,
        | CAST(MEDIAN(v) OVER (wr ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS DOUBLE) AS med_rows,
        | CAST(SUM(v) OVER (wr ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE GROUP) AS BIGINT) AS sum_rows_grp
        |FROM (SELECT user_id, event_id,
        |        CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS v,
        |        date_trunc('hour', ts) AS hb
        |      FROM events)
        |WINDOW
        | wf AS (PARTITION BY user_id ORDER BY hb),
        | wr AS (PARTITION BY user_id ORDER BY hb, event_id)
        |ORDER BY user_id, event_id""".stripMargin),

    // R73: VARINT — arbitrary-precision integers past the INT128
    // kernels (reference src/common/types/varint.cpp,
    // test/sql/types/varint/). >39-digit round-trips, sign/magnitude
    // ordering across the 128-bit wall, and the reference's own
    // DOUBLE escape (Spark side: plans/Varint.scala order-preserving
    // binary kernels). ROWS-ONLY: the oracle's python-duckdb is
    // 1.0.0, which predates VARINT — values are pinned instead
    // against the reference's own sqllogictest expectations
    // (test_varint_comparisons.test) in VarintSpec.
    QDef.rowsOnly("q72_varint") { (s, dir) => GraftSql.sql(s,
      """SELECT
        | CAST('340282366920938463463374607431768211455987'::VARINT AS VARCHAR) AS big,
        | CAST('-340282366920938463463374607431768211455987'::VARINT AS VARCHAR) AS nbig,
        | CAST('00042'::VARINT AS VARCHAR) AS canon,
        | ('340282366920938463463374607431768211455987'::VARINT
        |    < '340282366920938463463374607431768211455988'::VARINT) AS lt_close,
        | ('99999999999999999999999999999999999999999'::VARINT
        |    < '100000000000000000000000000000000000000000'::VARINT) AS lt_len,
        | ('-99999999999999999999999999999999999999999'::VARINT
        |    < '-9999999999999999999999999999999999999999'::VARINT) AS lt_neg,
        | ('-1'::VARINT < '0'::VARINT AND '0'::VARINT < '1'::VARINT) AS sign_order,
        | ('170141183460469231731687303715884105727'::VARINT
        |    = '170141183460469231731687303715884105727'::VARINT) AS eq_i128,
        | CAST('12345678901234567890123456789012345678901234567890'::VARINT AS DOUBLE) AS dbl
        |""".stripMargin)
    }
  )
}
